#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Inputs are generated from the seed
under .perfbench_work/ (wiped at every start), the workload runs in one
fresh child process with a pinned environment, and the last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (perfbench/README.md).  The line before it carries the
pinned environment and the workload's named figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

# A run ends this long after it starts, plus --seconds.
RUN_BUDGET_S = 165
DRIVER_MEM = "3g"


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _reap(pgid: int) -> None:
    """Kill whatever is left of the child's process group and wait until
    it is gone."""
    for _ in range(100):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        except PermissionError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload run")
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    ap.add_argument("--corrupt", type=int, choices=(0, 1, 2), default=0,
                    help="self-test: 1 corrupts one checked result, 2 makes one "
                         "operation raise")
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_BUDGET_S + a.seconds

    if not os.path.isfile(os.path.join(ROOT, "hiero_spark", "__init__.py")):
        print("perfbench: hiero_spark/ not found next to perfbench/; run from a "
              "full checkout", file=sys.stderr)
        return 2

    import datagen

    work = os.path.join(ROOT, ".perfbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, d))
    sf = a.sf if a.sf is not None else metrics.SCALE[a.workload]
    data = os.path.join(work, "data", f"sf{sf}")
    datagen.write(a.seed, sf, data)

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    pinned = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    env.update(pinned)
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONHASHSEED"] = str(a.seed)

    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--work", work,
        "--corrupt", str(a.corrupt),
    ]
    with open(log_path, "w") as log:
        cmd += ["--launch", repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=os.path.join(work, "scratch"), env=env,
                                stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            _reap(proc.pid)
            proc.wait()
            print(f"perfbench: {a.workload} did not finish in "
                  f"{RUN_BUDGET_S + a.seconds:g} s", file=sys.stderr)
            return 1
        finally:
            _reap(proc.pid)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    res = json.loads(lines[-1])
    with open(log_path) as fh:  # failed checks, for the person reading stderr
        sys.stderr.writelines(ln for ln in fh if ln.startswith("perfbench:"))

    if a.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(
                ROOT, ".perfbench_out", f"{a.workload}-seed{a.seed}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    detail = {k: {"value": res["detail"].get(k, 0.0), "unit": u}
              for k, u in metrics.DETAIL.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "scale_factor": sf, "env": pinned, "timeline_s": res["timeline"],
        "op_samples": res["e2e"]["samples"], "detail": detail,
    }))
    if a.trace:
        values = {k: res["layers"].get(k, 0.0) for k in metrics.LAYERS}
        units = metrics.LAYERS
    else:
        values = {k: res["e2e"][k] for k in metrics.E2E}
        units = metrics.E2E
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": max(1, int(res["attempted"])),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
