#!/usr/bin/env python
"""Headline benchmark: times the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default `hiero_spark.catalog.DEFAULT_SF_DIR`) on local[$SPARK_GRAFT_CPUS]
and prints ONE compact JSON line, last on stdout (see `stdout_line`).

Each query is timed as a caller pays for it: `spec.fn(spark, sf_dir)`
(the Python plan build plus any eager jobs the function runs before it
returns) followed by a `noop` write, which materializes every output
column.  `count()` is not used: Catalyst prunes the output expressions
under it, so aggregates such as `a11_quantiles_exact`'s exact
percentiles would never run.

One untimed pass over every query pays the JVM, parquet-footer and
codegen costs first.  Then each query is timed N_REPS times and the
minimum is kept.  Tracked operator caches and the session cache are
released before every rep, so each rep recomputes everything from the
parquet inputs and no query's time includes another's cache backlog.

Per-query build and total times go to BENCH_DETAIL.json next to this
file.  Run:

    SPARK_GRAFT_CPUS=$(nproc) python bench.py
"""

from __future__ import annotations

import json
import os
import re
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "a4_histogram_numeric",
    "a6_heatmap",
    "a8_heavy_hitters",
    "a11_quantiles_exact",
    "a13_next_k",
    "ext_window_rank",
    "x1_tumbling_window",
    "x6_sessionization_batch",
    "ext_asof_join",
    "n1_dedup_exact",
    "n1_minhash_near_dups",
    "n2_ann_brute_force",
    "n4_token_count",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q22_global_sales_opportunity",
    "n6_decontamination",
    "n6_decontamination_hashed",
    "n4_repetition_stats",
    "n1_url_dedup",
    "n5_boilerplate_removal",
    "n1_entity_resolution",
    "n1_containment_join",
    "n7_connected_components",
    "s19_time_travel",
]

N_REPS = 3
# Names the timing method.  Totals taken under a different basis (the
# earlier `count()` bases in BENCH_r*.json) are not comparable with it.
TIMING_BASIS = "build_noop_released"
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)


def stdout_line(timings: dict[str, float], sf: float, cpus: int) -> str:
    """The one stdout line: per-query min total seconds and their sum.
    Only scalars and the `queries` map, so it stays well inside a
    2000-byte tail of stdout."""
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "cpus": cpus,
            "n_reps": N_REPS,
            "estimator": "min",
            "timing_basis": TIMING_BASIS,
            "detail_file": os.path.basename(DETAIL_PATH),
        }
    )


def main() -> None:
    from hiero_spark.catalog import DEFAULT_SF_DIR
    from hiero_spark.functions._cachetrack import release_caches
    from hiero_spark.registry import all_queries
    from hiero_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    # Console progress bars are stderr redraw noise beside the stdout line.
    spark = get_spark(
        "hiero_spark_bench", **{"spark.ui.showConsoleProgress": "false"}
    )
    sc = spark.sparkContext
    specs = all_queries()

    # Quiet WindowExec's 'No Partition Defined' WARN for this run only:
    # every unpartitioned-window site in the registry is pinned to a
    # bounded input by
    # tests/test_plans.py::test_unpartitioned_windows_pinned_and_bounded,
    # so a new unbounded window fails that test instead of hiding here.
    try:
        jvm = sc._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend drift: warnings reappear, bench still runs

    def run_once(name: str, group: str) -> tuple[float, float]:
        """(build_s, total_s) of one fresh execution of `name`."""
        release_caches()
        spark.catalog.clearCache()
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return t1 - t0, t2 - t0

    for name in HEADLINE:
        run_once(name, f"bench:{name}:warmup")

    best: dict[str, tuple[float, float]] = {}
    for name in HEADLINE:
        for rep in range(N_REPS):
            build_s, total_s = run_once(name, f"bench:{name}:{rep}")
            if name not in best or total_s < best[name][1]:
                best[name] = (build_s, total_s)
    release_caches()
    spark.catalog.clearCache()

    cpus = sc.defaultParallelism
    with open(DETAIL_PATH, "w") as fh:
        json.dump(
            {
                "sf": sf,
                "cpus": cpus,
                "queries": {
                    name: {"build_s": round(b, 3), "total_s": round(t, 3)}
                    for name, (b, t) in best.items()
                },
            },
            fh,
            indent=1,
        )
    print(stdout_line({k: round(t, 3) for k, (_, t) in best.items()}, sf, cpus))


if __name__ == "__main__":
    main()
