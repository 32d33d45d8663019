"""tools/kernel_bench.py, the single-thread kernel probe, still runs end to
end (no Spark) and prints its one JSON line."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_kernel_bench_prints_one_json_line():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "kernel_bench.py"), "0.002", "1"],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    lines = out.strip().splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert rec["decode_ms_per_mtok"] > 0
