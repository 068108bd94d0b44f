"""bench.py contract: one JSON line on stdout with the driver's schema."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest


@pytest.mark.slow
def test_bench_json_contract():
    import tempfile

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    # keep the committed sf0.1 BENCH.json artifact out of the blast radius
    bench_out = os.path.join(tempfile.mkdtemp(), "BENCH_test.json")
    env["SPARK_GRAFT_BENCH_OUT"] = bench_out
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        # quiet-host wall at sf0.001 is ~570 s (198 entries, the six
        # delta-format queries do real table IO); 1500 gives the same
        # ~2.6x contention headroom the 900 gave the 196-entry corpus
        timeout=1500,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # Stdout line: must fit the driver's 2000-char tail capture (rounds 1
    # and 2 both overflowed it — VERDICT r2 "What's wrong" item 1) AND
    # parse with the driver's schema. Per-query detail is size-guarded.
    line = out.stdout.strip().splitlines()[-1]
    assert len(line) < 1900, f"stdout line too long: {len(line)}"
    d = json.loads(line)
    assert d["unit"] == "sec"
    assert isinstance(d["value"], (int, float)) and d["value"] > 0
    assert d["sf"] == 0.001
    assert d["detail"] == "BENCH.json"
    assert 0 < len(d["queries"]) <= d["n_queries"]
    # Full-detail artifact: every corpus query present and none failed.
    with open(bench_out) as f:
        full = json.load(f)
    assert full["value"] == d["value"]
    assert len(full["queries"]) >= 60
    assert len(full["queries"]) == d["n_queries"]
    failed = {k: v for k, v in full["queries"].items() if v == -1.0}
    assert not failed, f"bench queries failed: {failed}"
    # slowest-first invariant: stdout carries the frozen cohort block,
    # then the top of the remaining cost ranking, each slowest-first
    cohort_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "bench_compact_cohort.json",
    )
    with open(cohort_path) as f:
        cohort = set(json.load(f)["names"])
    names = list(d["queries"])
    k = sum(n in cohort for n in names)
    assert all(n in cohort for n in names[:k]), "cohort block must lead"
    shown = list(d["queries"].values())
    for block in (shown[:k], shown[k:]):
        assert block == sorted(block, reverse=True)
    # self-adjudication header (VERDICT r6 item 2): load + calibration
    # stamps land in BOTH the artifact and the captured stdout line, so
    # cross-round timing comparisons carry their own host evidence
    for rec in (full["host"], d["host"]):
        assert rec["calib_start_sec"] > 0 and rec["calib_end_sec"] > 0
    assert len(full["host"]["load_start"]) == 3
    assert len(full["host"]["load_end"]) == 3
    assert isinstance(full["host"]["load_flagged"], list)
    assert full["host"]["calib_drift_pct"] is not None
    assert len(full["query_load1"]) == len(full["queries"]) - 2  # pipeline benches excluded
