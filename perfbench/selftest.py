#!/usr/bin/env python3
"""Self-test of the benchmark's checker, at sf0.001.

    python3 perfbench/selftest.py

Runs every workload briefly, untraced and traced, and asserts that each
end-to-end and per-layer metric is emitted with its unit and that no
output check fails.  Then runs every workload once with one result
deliberately corrupted and once with one operation made to raise, and
asserts that each is counted as failed, not dropped.  Also
checks that BENCHMARK.json declares the same names and units as
metrics.py.  Takes about ten minutes on 4 cores; exits non-zero on the
first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

SF = "0.001"


def bench(workload: str, trace: int, corrupt: int = 0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--sf", SF,
           "--corrupt", str(corrupt)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    detail, res = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert set(detail["detail"]) == set(metrics.DETAIL), detail["detail"].keys()
    return res


def expect_units(res: dict, want: dict, what: str) -> None:
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metrics/units differ: {set(got) ^ set(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float), f"{what}: {k} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.LAYERS

    for wl in metrics.WORKLOADS:
        for trace, want in ((0, metrics.E2E), (1, metrics.LAYERS)):
            res = bench(wl, trace)
            expect_units(res, want, f"{wl} trace={trace}")
            assert res["correct"] and res["failed"] == 0, f"{wl}: {res['failed']} failed"
            assert res["attempted"] > 0
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if v["value"] <= 0]
                assert not zero, f"{wl}: end-to-end metrics not positive: {zero}"
            print(f"ok  {wl} trace={trace} attempted={res['attempted']}")

    for wl in metrics.WORKLOADS:
        for corrupt, what in ((1, "corrupted result"), (2, "raising operation")):
            res = bench(wl, 0, corrupt=corrupt)
            assert not res["correct"] and res["failed"] >= 1, f"{wl}: {what} not counted"
            print(f"ok  {wl} {what} counted: failed={res['failed']}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
