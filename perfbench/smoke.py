"""Smoke test of the benchmark itself: every workload at sf0.001 with two
queries or change batches per pass, untraced and traced.

    python3 perfbench/smoke.py

Asserts that each run exits 0 and is correct, that every end-to-end and
per-layer metric of BENCHMARK.json is present with its unit, that the
report's error rate is 0, and that the traced run wrote its span file.
Takes about three minutes on four cores.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: --scale that puts each workload's base tables at sf0.001
SCALES = {"cdc_lifecycle": 0.1, "corpus": 0.1}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", str(SCALES[workload]), "--limit", "2"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             f"{proc.stderr[-4000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            before = set(glob.glob(os.path.join(ROOT, ".perfbench_out", f"spans-{wl}-*")))
            report, result = _run(wl, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            assert report["error_rate"] == 0, report
            for m in expected[trace]:
                got = result["metrics"].get(m["name"])
                assert got is not None, f"{wl}: missing {m['name']}"
                assert got["unit"] == m["unit"], f"{wl}: {m['name']} unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), got
            assert set(result["metrics"]) == {m["name"] for m in expected[trace]}
            if trace:
                after = set(glob.glob(os.path.join(ROOT, ".perfbench_out", f"spans-{wl}-*")))
                new = after - before
                assert new, f"{wl}: traced run wrote no span file"
                spans = json.load(open(new.pop()))
                assert spans and {"name", "start", "end", "parent", "run"} <= set(spans[0])
            print(f"ok {wl} trace={trace}", flush=True)
    print("smoke: all workloads ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
