#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once at tiny scale with two seeds (seed 1 untraced and
traced, seed 2 untraced) and asserts that:

- each run exits 0, checks every op and fails none (failed_ops_frac is 0);
- every named end-to-end metric prints with its unit, for the workloads it
  applies to, and the summary line carries every metric BENCHMARK.json names
  (end-to-end untraced, per-layer traced) with BENCHMARK.json's unit;
- the traced run reports the workload-only layer metrics and the tracing
  overhead;
- the count metrics (chunks, token chunks per codec, token bytes per token)
  repeat exactly for a fixed seed, and bytes_per_raw_byte to within the few
  bytes of encode timings each chunk row stores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "ingest": ("setup_s", "encode_mtok_per_s", "lint_s", "verify_s",
               "bytes_per_raw_byte", "failed_ops_frac", "peak_rss_mb"),
    "serve": ("setup_s", "decode_mtok_per_s", "decode_proj_mtok_per_s",
              "local_read_mtok_per_s", "lookup_p50_ms", "lookup_p75_ms",
              "scan_token_p50_ms", "bytes_per_raw_byte", "failed_ops_frac",
              "peak_rss_mb"),
}
# reported only when the run holds enough samples beyond the percentile
MAY_BE_NULL = {"lookup_p75_ms"}
EXTRA_LAYERS = {
    "ingest": ("lint_job.lint_s", "lint_job.prescription_s", "lint_job.spark_jobs",
               "verify.verify_s", "verify.spark_jobs"),
    "serve": ("decode_job.exec_s", "decode_job.scan_tasks", "local_reader.read_s",
              "decode_job.lookup_spark_jobs", "decode_job.scan_spark_jobs",
              "decode_job.lookup_chunks_admitted", "decode_job.lookup_useful_frac",
              "decode_job.scan_admit_frac", "decode_job.scan_useful_frac"),
}


def run(seed: int, trace: int) -> tuple[dict[str, dict], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.4"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = [json.loads(x) for x in r.stdout.splitlines() if x.startswith("{")]
    return {d["workload"]: d for d in lines[:-1]}, lines[-1]


def check_run(per: dict[str, dict], summary: dict, spec: dict, trace: int) -> None:
    assert set(per) == set(NAMED), sorted(per)
    assert summary["correct"] and summary["failed"] == 0, summary
    assert summary["attempted"] >= len(NAMED), summary
    for wl, names in NAMED.items():
        d = per[wl]
        assert d["failed"] == 0, (wl, d["errors"])
        for n in names:
            value, unit = d["named"][n]
            assert isinstance(unit, str) and unit, (wl, n)
            assert value is not None or n in MAY_BE_NULL, (wl, n)
        assert d["named"]["failed_ops_frac"][0] == 0, wl
        want = spec["per_layer"] if trace else spec["end_to_end"]
        for m in want:
            got = summary["metrics"][f"{wl}.{m['name']}"]
            assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (wl, m, got)
        if trace:
            for n in EXTRA_LAYERS[wl]:
                assert d["layers_extra"][n][0] is not None, (wl, n)
            assert d["trace_overhead"]["traced_ops"] > 0, wl
            assert d["trace_overhead"]["overhead_ms"] is not None, wl
            assert os.path.isfile(os.path.join(ROOT, d["spans_file"])), wl


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = {}
    for seed, trace in ((1, 0), (1, 1), (2, 0)):
        per, summary = run(seed, trace)
        check_run(per, summary, spec, trace)
        runs[seed, trace] = per
        print(f"seed {seed} trace {trace}: ok", flush=True)
    for wl in NAMED:
        a, b = runs[1, 0][wl]["counts"], runs[1, 1][wl]["counts"]
        # each chunk row stores its encode time, so the bytes on disk may
        # differ by a few bytes between runs; everything else is exact
        ratio_a, ratio_b = a.pop("bytes_per_raw_byte"), b.pop("bytes_per_raw_byte")
        assert a == b, (wl, a, b)
        assert abs(ratio_a - ratio_b) <= 1e-5 * ratio_a, (wl, ratio_a, ratio_b)
    print("counts repeat for a fixed seed: ok")


if __name__ == "__main__":
    main()
