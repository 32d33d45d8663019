"""Memory soak of perfbench's `serve` workload, resident memory split by process.

    python tools/rss_soak.py [--root CHECKOUT] [--ops 20] [--seed 1]

Runs `serve` set-up and then `--ops` timed ops on one session, in this
process, with perfbench's own pinned environment, Bench and workload code
(nothing of perfbench is changed), and a reference job between each two
ops as perfbench's loop runs one. After each op it prints one JSON line:
the op's seconds, its peak resident memory of the whole process tree, and
the resident memory at its end summed separately over the driver (this
process), the JVM, and the Python processes under the JVM (the worker
daemon and its workers), with their count. `--root` measures another
checkout (its tokenlake and perfbench), e.g. a clone of the parent commit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def split_rss_mb(kids: dict, rss_kb) -> dict:
    """{driver, jvm, python, python_procs}: resident MB of this process, of
    its JVM child, and summed over every process below the JVM."""
    me = os.getpid()
    jvms = [p for p in kids.get(me, ()) if _comm(p) == "java"]
    below, todo = [], [c for j in jvms for c in kids.get(j, ())]
    while todo:
        p = todo.pop()
        below.append(p)
        todo.extend(kids.get(p, ()))
    return {
        "driver": rss_kb(me) / 1024,
        "jvm": sum(map(rss_kb, jvms)) / 1024,
        "python": sum(map(rss_kb, below)) / 1024,
        "python_procs": len(below),
    }


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--ops", type=int, default=20)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    root = os.path.abspath(args.root)
    bench_dir = os.path.join(root, "perfbench")
    sys.path[:0] = [root, bench_dir]
    os.chdir(root)
    import run
    from tracing import PeakRss, Tracer, _children_map, _rss_kb
    from workloads import WORKLOADS, Bench

    work = os.path.join(bench_dir, ".work", f"soak-{os.getpid()}")
    run.pin_env(work)
    bench = None
    try:
        with PeakRss() as rss:
            bench = Bench(work, args.seed, 0.0, False, 1.0, rss, Tracer())
            wl = WORKLOADS["serve"](bench)
            wl.generate()
            t0 = time.perf_counter()
            bench.setup(wl)
            wl.expectations()
            bench.spawn_workers(wl)
            print(json.dumps({"setup_s": time.perf_counter() - t0,
                              **split_rss_mb(_children_map(), _rss_kb)}), flush=True)
            for i in range(args.ops):
                if i:
                    bench.reference_s(wl)
                rec = bench.one_op(wl, i, False, False)
                line = {"op": i, "s": rec["s"], "ok": rec["ok"], "peak_mb": rec.get("rss_mb")}
                line.update(split_rss_mb(_children_map(), _rss_kb))
                print(json.dumps(line), flush=True)
    finally:
        run.stop_spark(bench.spark if bench is not None else None)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
