"""One workload in one fresh process: set up, measure, check, report.

Started by run.py, never directly.  Prints one JSON object on its last
stdout line: {"attempted", "failed", "e2e", "detail", "layers"}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from sparkstats import Stats  # noqa: E402
from tracing import Tracer  # noqa: E402

SETUP_REPS = 3


class Ctx:
    """What a workload gets: the session, its inputs, the clock, and the
    tallies of attempted and failed checks."""

    def __init__(self, args, spark, tracer):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.trace = bool(args.trace)
        self.stats = Stats(spark)
        self.seed = args.seed
        self.data = args.data  # the generated tables, one parquet file each
        self.work = args.work
        # self-test: one corrupted result, or one operation that raises
        self._inject = {0: None, 1: "corrupt", 2: "raise"}[args.corrupt]
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()  # the session checks from two threads
        self.layers: dict[str, float] = {}
        self.detail: dict[str, float] = {}
        self.deadline = 0.0
        self.timeline: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Seconds from process launch to the end of `phase`."""
        self.timeline[phase] = round(time.time() - self.args.launch, 2)

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failure is reported, never dropped."""
        with self._lock:
            self.attempted += 1
            self.failed += not ok
        if not ok:
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def inject(self, fault: str) -> bool:
        """True for the first caller asking for the fault the self-test
        requested ("corrupt" or "raise"), once per run."""
        with self._lock:
            if self._inject != fault:
                return False
            self._inject = None
            return True

    def start_clock(self, seconds: float) -> None:
        self.mark("warmup")
        self.deadline = time.perf_counter() + seconds

    def time_left(self) -> bool:
        return time.perf_counter() < self.deadline


def _jvm_peak_rss_mb(spark) -> float:
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--corrupt", type=int, default=0)
    args = ap.parse_args()

    import importlib

    wl = importlib.import_module(metrics.WORKLOADS[args.workload])
    from hiero_spark.session import get_spark

    spark = get_spark("perfbench", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    })
    session_s = time.time() - args.launch
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(args, spark, tracer)

    # One-time preparation, then the repeatable part of set-up several
    # times with the median counted; the JVM starts once per process.
    t0 = time.perf_counter()
    with tracer.span("prepare", "setup"):
        state = wl.prepare(ctx)
    prepare_s = time.perf_counter() - t0
    steps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("setup", "setup"):
            state = wl.setup(ctx, state)
        steps.append(time.perf_counter() - t0)
    setup_s = session_s + prepare_s + statistics.median(steps)
    ctx.mark("setup")

    e2e = wl.run(ctx, state)
    ctx.mark("run")
    e2e["setup_s"] = setup_s
    ctx.detail["failed_frac"] = ctx.failed / max(1, ctx.attempted)
    ctx.detail["cache_mb_end"], ctx.layers["ui.cached_rdds_end"] = ctx.stats.cached()

    layers = {}
    if args.trace:
        layers = dict(ctx.layers)
        layers.update(ctx.detail)
        layers["setup.session_s"] = session_s
        layers["setup.prepare_s"] = prepare_s
        layers["setup.step_s"] = statistics.median(steps)
        layers["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        for layer, s in tracer.self_times().items():
            layers[f"trace.self.{layer}_s"] = s
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.overhead_s"] = tracer.overhead_s()
        tracer.dump(os.path.join(args.work, "spans.json"))
    wl.teardown(ctx, state)
    spark.stop()
    ctx.mark("stop")
    print(json.dumps({
        "attempted": ctx.attempted, "failed": ctx.failed, "timeline": ctx.timeline,
        "e2e": e2e, "detail": ctx.detail, "layers": layers,
    }))


if __name__ == "__main__":
    main()
