"""Measurement plumbing for the tokenlake benchmark.

Everything here observes tokenlake from the outside:

- `Tracer` records a span around each call the benchmark makes into a
  tokenlake module (name = `<module>.<function>`, start, end, parent span,
  op id). While a span is open its Spark job group is set, so the jobs,
  stages, tasks, failed tasks and shuffle-write bytes each call launched are
  read back per span from Spark's own status tracker and status store.
  Spans stay in memory and are written out once, at the end of the run.
- `PeakRss` samples the resident memory of the whole process tree (the
  Python driver, the JVM it launched, the JVM's Python workers).
- `burn` is a fixed single-process pure-Python loop: timed before and after
  each workload it shows whether the host was loaded during the run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes")


class Tracer:
    """Spans around calls into tokenlake, with Spark counters per span.

    Disabled tracers cost one attribute test per span: the timed runs of the
    benchmark go through the same code with tracing off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Attach to the current SparkContext (after every session start)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            if not self._stack:
                self._collect(rec["op"])

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    def _collect(self, op: str | None) -> None:
        """Read the Spark counters of every span of `op` (called when its
        top-level span closes, before the status store can evict them)."""
        sc = self._sc
        if sc is None:
            return
        ssc = sc._jsc.sc()
        ssc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = ssc.statusStore()
        jvm = sc._jvm
        no_tasks = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for rec in self.spans:
            if rec["op"] != op or "counters" in rec:
                continue
            c = dict.fromkeys(COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage in info.stageIds:
                    try:
                        data = store.stageAttempt(stage, 0, False, no_tasks, False, no_quantiles)._1()
                    except Exception:  # skipped stages never get an attempt record
                        continue
                    if str(data.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += data.numCompleteTasks()
                    c["failed_tasks"] += data.numFailedTasks()
                    c["shuffle_write_bytes"] += data.shuffleWriteBytes()
            rec["counters"] = c

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its child spans cover (spans
        nest on one thread, so children never overlap)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def by_name(self, name: str, ops: set[str] | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and (ops is None or s["op"] in ops)
        ]

    def layer_self_s(self) -> dict[str, float]:
        """Median self time per span name, over the ops that called it."""
        selfs = self.self_times()
        per: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                per.setdefault(s["name"], []).append(selfs[s["id"]])
        return {k: statistics.median(v) for k, v in sorted(per.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: fields resume
        # after the LAST ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Background sampler of the process tree's summed resident memory."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak_mb = 0.0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def burn(iters: int = 1_000_000, reps: int = 3) -> float:
    """Fastest of `reps` timings of a fixed pure-Python loop, in seconds."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(iters):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best
