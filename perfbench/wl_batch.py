"""batch_headline: the 31 headline queries, one closed-loop caller.

Warm-up doubles as validation: every query runs once and is compared
with its DuckDB oracle over the same files by `tests/parity.py`.  Then
timed passes (at least one, and more while --seconds lasts) run the
queries in seed-shuffled order, each as `spec.fn(spark, sf_dir)`
followed by a `noop` write, with tracked caches released and the cache
cleared between queries.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
from types import SimpleNamespace

import metrics
from sparkstats import STAGE_FIELDS, quantile

VALIDATE_THREADS = 4
# The queries that take longest cold; validation starts them first.
SLOW = ("n1_containment_join", "n1_entity_resolution", "n7_connected_components",
        "n1_minhash_near_dups", "a11_quantiles_exact", "s19_time_travel")


def prepare(ctx):
    from hiero_spark.registry import all_queries

    return {"specs": all_queries()}


def setup(ctx, state):
    from hiero_spark import catalog

    catalog.register_views(ctx.spark, ctx.data)
    return state


def _release(spark):
    from hiero_spark.functions._cachetrack import release_caches

    release_caches()
    spark.catalog.clearCache()


def _duck_connect(sf_dir, tables):
    import duckdb

    duck = duckdb.connect()
    duck.sql("SET threads TO 2")
    for t in tables:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return duck


def _validate(ctx, specs, order):
    """Run every query once and compare it with its oracle by the rule of
    tests/parity.py.  Queries run on VALIDATE_THREADS threads: this pass is
    also the untimed warm-up that pays the JVM and codegen costs."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from hiero_spark import catalog
    from tests import parity

    sf_dir = ctx.data
    duck = _duck_connect(sf_dir, catalog.TABLES)

    def one(name):
        spec = specs[name]
        if spec.oracle is not None and ctx.inject("corrupt"):
            spec = SimpleNamespace(oracle=spec.oracle, fn=lambda s, d, fn=spec.fn:
                                   fn(s, d).withColumn("_corrupt", F.lit(1)))
        with ctx.tracer.span(f"validate:{name}", "check", op=f"validate:{name}"):
            try:
                with duck.cursor() as cur:
                    return name, parity.compare_query(ctx.spark, cur, spec, sf_dir)
            except Exception as e:  # noqa: BLE001 - a failing query is a failed check
                return name, [f"raised {type(e).__name__}: {e}"]

    # longest first, so the pass does not end on one slow query alone
    order = sorted(order, key=lambda q: q not in SLOW)
    with ThreadPoolExecutor(VALIDATE_THREADS) as pool:
        results = list(pool.map(one, order))
    _release(ctx.spark)
    for name, problems in results:
        ctx.check(not problems, f"{name} vs oracle: {problems}")
    duck.close()


def run(ctx, state):
    specs = state["specs"]
    order = list(metrics.HEADLINE)
    random.Random(ctx.seed).shuffle(order)
    _validate(ctx, specs, order)

    # Whole passes while --seconds lasts, at least one.
    sf_dir = ctx.data
    times: dict[str, list[float]] = {}
    phases = []  # (job group, write-call epoch, build_s, write_s)
    persist_bearing = set()
    first_exec = ctx.stats.last_execution_id() + 1
    passes = []
    ctx.start_clock(ctx.args.seconds)
    while not passes or ctx.time_left():
        t_pass = time.perf_counter()
        _pass(ctx, specs, order, sf_dir, times, phases, persist_bearing)
        passes.append(time.perf_counter() - t_pass)
    per_query = {q: statistics.median(t) for q, t in times.items()}
    all_times = [t for ts in times.values() for t in ts]

    ctx.detail["batch_total_s"] = statistics.median(passes)
    ctx.detail["batch_query_p50_s"] = quantile(all_times, 0.5)
    if ctx.trace:
        _layers(ctx, per_query, phases, persist_bearing, first_exec, len(passes))
    return {
        "pass_s": statistics.median(passes),
        "op_p50_s": quantile(all_times, 0.5),
        "op_p75_s": quantile(all_times, 0.75),
        "samples": len(all_times),
    }


def _pass(ctx, specs, order, sf_dir, times, phases, persist_bearing):
    """One timed pass over the queries; pass `len(phases) // len(order)`."""
    from hiero_spark.functions._cachetrack import live_count

    spark = ctx.spark
    sc = spark.sparkContext
    p = len(phases) // len(order)
    for name in order:
        ok, group = True, f"b{p}:{name}"
        with ctx.tracer.span(f"query:{name}", "op", op=f"{p}:{name}"):
            try:
                if ctx.inject("raise"):
                    raise RuntimeError("injected failure (self-test)")
                sc.setJobGroup(f"{group}:build", name)
                t0 = time.perf_counter()
                with ctx.tracer.span("build", "build"):
                    df = specs[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                w_epoch = time.time()
                sc.setJobGroup(f"{group}:exec", name)
                with ctx.tracer.span("write", "write"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failing query is a failed check
                ok = False
                print(f"perfbench: {name} raised {type(e).__name__}: {e}", file=sys.stderr)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if ctx.check(ok, f"{name} timed run"):
            times.setdefault(name, []).append(t2 - t0)
            phases.append((group, w_epoch, t1 - t0, t2 - t1))
        else:
            phases.append((group, None, 0.0, 0.0))
        if live_count() > 0:
            persist_bearing.add(name)
        _release(spark)


def _layers(ctx, times, phases, persist_bearing, first_exec, n_pass):
    """Per-layer figures per pass."""
    st, L = ctx.stats, ctx.layers
    jobs, eager, plan, build, execs = [], 0, 0.0, 0.0, 0.0
    for group, w_epoch, b_s, w_s in phases:
        if w_epoch is None:
            continue
        bj = st.job_ids(f"{group}:build")
        ej = st.job_ids(f"{group}:exec")
        eager += len(bj)
        jobs += bj + ej
        first = st.job_submit(ej[0]) if ej else None
        # plan time: from the noop write call to its first job's submission
        p_s = min(w_s, max(0.0, first - w_epoch)) if first is not None else w_s
        plan += p_s
        build += b_s
        execs += w_s - p_s
    tot = st.stage_totals(jobs)
    L["exec.jobs"] = len(jobs) / n_pass
    for f in STAGE_FIELDS:
        L[f"exec.{f}"] = tot[f] / n_pass
    L["exec.python_data_mb"] = st.python_data_mb(first_exec) / n_pass
    L["batch.build_s"] = build / n_pass
    L["batch.eager_jobs"] = eager / n_pass
    L["batch.plan_s"] = plan / n_pass
    L["batch.exec_s"] = execs / n_pass
    L["batch.persist_bearing"] = len(persist_bearing)
    for q, t in times.items():
        L[f"batch.query.{q}_s"] = t


def teardown(ctx, state):
    pass
