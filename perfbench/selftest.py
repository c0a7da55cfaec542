#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny sizes.

    python3 perfbench/selftest.py

Runs each workload of BENCHMARK.json with ``--size tiny`` (a 300-doc
web crawled 2+2 rounds; 2 of the curation queries), untraced and
traced, and asserts that the last stdout line names every metric of
BENCHMARK.json with its unit and reports no failures. Then it runs
each workload against a deliberately wrong reference answer and
asserts that the run reports failures. Takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (wl, trace, got, want)
            assert all(isinstance(v["value"], (int, float))
                       for v in out["metrics"].values())
            assert out["correct"] and out["failed"] == 0, (wl, trace, out)
            assert out["attempted"] >= 1
            print(f"ok   {wl} trace={trace}: {out['attempted']} attempted")
        out = run(wl, 0, "--wrong-reference")
        assert not out["correct"] and out["failed"] >= 1, (wl, out)
        print(f"ok   {wl} wrong reference: {out['failed']} failed")
    print("self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
