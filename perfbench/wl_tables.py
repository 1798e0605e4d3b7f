"""table_maintenance: seeded writes beside reads on rebuilt scratch tables.

Three tables are rebuilt at set-up from the generated data:
  * a snapshot-versioned orders table (`sources.versioned`), v0 = one
    64th of the orders;
  * orders partitioned by status (`layout.upsert_partitioned` target);
  * a Bloom-indexed documents layout (`layout.save_bloom_indexed`).
A pass commits the next 64th through write-audit-publish, upserts and
deletes orders, deletes and looks up documents by key, and reads old
versions and version diffs.  The first pass replays its commit, which
the uniqueness audit must abort.  After every operation the row count
and the sum read back must equal values tracked with numpy.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from sparkstats import STAGE_FIELDS, quantile

SLICES = 64
WRITES = ("commit", "replay", "upsert", "delete")


def _du(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def prepare(ctx):
    return None


def setup(ctx, state):
    """Rebuild the three tables and the expected values from scratch."""
    from pyspark.sql import functions as F

    from hiero_spark.sources import layout
    from hiero_spark.sources import versioned as V

    spark, src = ctx.spark, ctx.data
    root = os.path.join(ctx.work, "tables")
    shutil.rmtree(root, ignore_errors=True)
    paths = {k: os.path.join(root, k) for k in ("versioned", "partitioned", "bloom")}
    orders = spark.read.parquet(f"{src}/orders.parquet").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    V.commit_version(orders.filter(F.col("o_orderkey") % SLICES == 0), paths["versioned"])
    orders.write.partitionBy("o_orderstatus").parquet(paths["partitioned"])
    docs = spark.read.parquet(f"{src}/documents.parquet").select("doc_id", "source", "n_chars")
    layout.save_bloom_indexed(spark, docs, paths["bloom"], "doc_id", n_files=16)

    o = pq.read_table(f"{src}/orders.parquet",
                      columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
    key = o["o_orderkey"].to_numpy()
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    d = pq.read_table(f"{src}/documents.parquet", columns=["doc_id", "n_chars"])
    v0 = key % SLICES == 0
    return {
        "orders": orders, "paths": paths, "root": root,
        "key": key, "cents": cents,
        "status": o["o_orderstatus"].to_numpy(zero_copy_only=False),
        # versioned: expected (rows, cents) per version
        "versions": [(int(v0.sum()), int(cents[v0].sum()))],
        # partitioned: current rows, key -> (status, cents)
        "part": dict(zip(key.tolist(), zip(o["o_orderstatus"].to_pylist(), cents.tolist()))),
        # bloom: live doc ids -> n_chars
        "docs": dict(zip(d["doc_id"].to_pylist(), d["n_chars"].to_pylist())),
        "next_key": int(key.max()) + 1,
    }


class OpFailed(Exception):
    """An operation raised; it is counted as failed and its pass goes on."""


class Maintainer:
    def __init__(self, ctx, state):
        from pyspark.sql import functions as F

        self.ctx, self.s, self.F = ctx, state, F
        self.spark = ctx.spark
        self.records: list[dict] = []
        self.lookup_frac: list[float] = []
        self.aborts = 0
        self.rng = random.Random(ctx.seed * 1009)
        self.slices = random.Random(ctx.seed).sample(range(1, SLICES), SLICES - 1)
        self.du0 = _du(state["root"])
        self.walls: list[float] = []

    def _op(self, kind: str, fn):
        """Time one call into the layer under its own job group.  If it
        raises, count a failed check and skip the rest of the step."""
        i = len(self.records)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"t:{i}:{kind}", kind)
        layer = "write_op" if kind in WRITES else "read_op"
        with self.ctx.tracer.span(kind, layer, op=f"{i}:{kind}"):
            t0 = time.perf_counter()
            try:
                if self.ctx.inject("raise"):
                    raise RuntimeError("injected failure (self-test)")
                out = fn()
            except Exception as e:  # noqa: BLE001 - a failing operation is a failed check
                self.ctx.check(False, f"{kind} raised {type(e).__name__}: {e}")
                raise OpFailed(kind) from e
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            wall = time.perf_counter() - t0
        self.records.append({"kind": kind, "wall": wall, "group": f"t:{i}:{kind}"})
        return out

    def _check(self, what: str, got, want):
        if self.ctx.inject("corrupt"):
            want = (want[0] + 1,) + tuple(want[1:])
        self.ctx.check(got == want, f"{what}: got {got}, want {want}")

    def _count_sum(self, df, col):
        """Row count and column sum, read back as an output check."""
        F = self.F
        with self.ctx.tracer.span("check", "check"):
            r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(col).alias("s")).collect()[0]
        return int(r["n"]), int(r["s"] or 0)

    # -- operations ---------------------------------------------------------
    def commit(self, sl: int, replay: bool):
        from hiero_spark.functions.checks import Checks
        from hiero_spark.sources import versioned as V

        F, s = self.F, self.s
        batch = s["orders"].filter(F.col("o_orderkey") % SLICES == sl)
        kind = "replay" if replay else "commit"
        res = self._op(kind, lambda: V.wap_commit(
            self.spark, batch, s["paths"]["versioned"], Checks().unique("o_orderkey")))
        if replay:
            self.aborts += 0 if res["published"] else 1
            n_versions = len(V.list_versions(s["paths"]["versioned"]))
            self._check("replayed commit must abort", (res["published"], n_versions),
                        (False, len(s["versions"])))
            return
        m = s["key"] % SLICES == sl
        prev = s["versions"][-1]
        s["versions"].append((prev[0] + int(m.sum()), prev[1] + int(s["cents"][m].sum())))
        self._check("commit rows audited", (res["published"], res["n_rows_audited"]),
                    (True, s["versions"][-1][0]))

    def timetravel(self, rng):
        from hiero_spark.sources import versioned as V

        v = rng.randrange(len(self.s["versions"]))
        F = self.F
        r = self._op("timetravel", lambda: V.read_version(
            self.spark, self.s["paths"]["versioned"], v)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")).collect()[0])
        got = (int(r["n"]), int(r["s"] or 0))
        self._check(f"version {v} rows and cents", got, self.s["versions"][v])

    def diff(self, rng):
        from hiero_spark.sources import versioned as V

        n = len(self.s["versions"])
        a = rng.randrange(n - 1) if n > 1 else 0
        b = n - 1
        rows = self._op("diff", lambda: V.version_diff(
            self.spark, self.s["paths"]["versioned"], a, b, "o_orderkey")
            .groupBy("change").count().collect())
        got = {r["change"]: r["count"] for r in rows}
        want = self.s["versions"][b][0] - self.s["versions"][a][0]
        self._check(f"diff v{a}..v{b} added rows", (got.get("added", 0), got.get("removed", 0)),
                    (want, 0))

    def upsert(self, rng):
        from hiero_spark.sources import layout

        s, part = self.s, self.s["part"]
        live = rng.sample(sorted(part), 360)
        rows = []
        for k in live[:300]:
            st, c = part[k]
            rows.append((k, rng.choice("FOP"), c + rng.randint(1, 5000), False))
        for k in live[300:]:
            rows.append((k, part[k][0], part[k][1], True))
        for _ in range(50):
            rows.append((s["next_key"], rng.choice("FOP"), rng.randint(100_000, 50_000_000), False))
            s["next_key"] += 1
        changes = self.spark.createDataFrame(
            rows, "o_orderkey long, o_orderstatus string, cents long, _delete boolean")
        self._op("upsert", lambda: layout.upsert_partitioned(
            self.spark, s["paths"]["partitioned"], changes, "o_orderkey", "o_orderstatus"))
        for k, st, c, dead in rows:
            if dead:
                part.pop(k, None)
            else:
                part[k] = (st, c)
        got = self._count_sum(self.spark.read.parquet(s["paths"]["partitioned"]), "cents")
        self._check("partitioned rows and cents", got,
                    (len(part), sum(c for _, c in part.values())))

    def delete(self, rng):
        from hiero_spark.sources import layout

        docs, s = self.s["docs"], self.s
        keys = rng.sample(sorted(docs), 15) + [10_000_000 + rng.randrange(10**6) for _ in range(5)]
        res = self._op("delete", lambda: layout.delete_bloom_keys(
            self.spark, s["paths"]["bloom"], keys))
        for k in keys[:15]:
            docs.pop(k)
        got = self._count_sum(self.spark.read.parquet(s["paths"]["bloom"]), "n_chars")
        self._check("bloom delete rows", (res["rows_deleted"],) + got,
                    (15, len(docs), sum(docs.values())))

    def lookup(self, rng):
        from hiero_spark.sources import layout

        docs, path = self.s["docs"], self.s["paths"]["bloom"]
        keys = rng.sample(sorted(docs), 10) + [20_000_000 + rng.randrange(10**6) for _ in range(2)]

        def probe():
            df = layout.read_bloom_pruned_many(self.spark, path, keys)
            return df.inputFiles(), df.select("doc_id", "n_chars").collect()

        files, rows = self._op("lookup", probe)
        groups = {f.split("_grp=")[1].split("/")[0] for f in files if "_grp=" in f}
        total = len([d for d in os.listdir(path) if d.startswith("_grp=")])
        self.lookup_frac.append(len(groups) / max(1, total))
        got = sorted((r["doc_id"], r["n_chars"]) for r in rows)
        self._check("bloom lookup rows", (len(got), got),
                    (10, sorted((k, docs[k]) for k in keys[:10])))

    def run_pass(self) -> None:
        """One timed pass of the maintenance script; pass 0 replays its
        commit."""
        t0, p, rng = time.perf_counter(), len(self.walls), self.rng
        sl = self.slices[p % len(self.slices)]
        steps = [lambda: self.commit(sl, replay=False)]
        if p == 0:
            steps.append(lambda: self.commit(sl, replay=True))
        steps += [
            lambda: self.lookup(rng), lambda: self.timetravel(rng),
            lambda: self.upsert(rng), lambda: self.diff(rng),
            lambda: self.delete(rng), lambda: self.lookup(rng),
            lambda: self.timetravel(rng),
        ]
        for step in steps:
            try:
                step()
            except OpFailed:
                pass
        self.walls.append(time.perf_counter() - t0)

    def job_ids(self) -> list[int]:
        return [j for r in self.records for j in self.ctx.stats.job_ids(r["group"])]

    def summarize(self) -> list[float]:
        """Fill the write-path figures; returns every timed op's wall."""
        ctx, recs, n_pass = self.ctx, self.records, len(self.walls)
        w = [r["wall"] for r in recs if r["kind"] in WRITES]
        rd = [r["wall"] for r in recs if r["kind"] not in WRITES]
        D = ctx.detail
        D["write_op_p50_s"] = quantile(w, 0.5)
        D["write_op_p90_s"] = quantile(w, 0.9)
        D["read_op_p50_s"] = quantile(rd, 0.5)
        D["storage_amplification"] = _amplification(ctx, self.s)
        if ctx.trace:
            L = ctx.layers
            for kind in ("commit", "upsert", "delete", "lookup", "timetravel", "diff"):
                L[f"writes.{kind}_p50_s"] = quantile(
                    [r["wall"] for r in recs if r["kind"] == kind], 0.5)
            L["writes.jobs_per_op"] = len(self.job_ids()) / max(1, len(recs))
            files1, bytes1 = _du(self.s["root"])
            L["writes.files_written"] = max(0, files1 - self.du0[0]) / n_pass
            L["writes.bytes_written_mb"] = max(0, bytes1 - self.du0[1]) / n_pass / (1 << 20)
            L["writes.lookup_files_read_frac"] = quantile(self.lookup_frac, 0.5)
            L["writes.audit_aborts"] = self.aborts
        return w + rd


def run(ctx, state):
    """Whole passes of the script, one and more while --seconds lasts."""
    m = Maintainer(ctx, state)
    ctx.start_clock(ctx.args.seconds)
    while not m.walls or ctx.time_left():
        m.run_pass()
    ops = m.summarize()
    if ctx.trace:
        jobs = m.job_ids()
        tot = ctx.stats.stage_totals(jobs)
        ctx.layers["exec.jobs"] = len(jobs) / len(m.walls)
        for f in STAGE_FIELDS:
            ctx.layers[f"exec.{f}"] = tot[f] / len(m.walls)
    return {
        "pass_s": quantile(m.walls, 0.5),
        "op_p50_s": quantile(ops, 0.5),
        "op_p75_s": quantile(ops, 0.75),
        "samples": len(ops),
    }


def _amplification(ctx, state) -> float:
    """Bytes on disk under the tables over the bytes of their final rows
    written once as plain parquet."""
    from hiero_spark.sources import versioned as V

    spark, paths = ctx.spark, state["paths"]
    once = os.path.join(ctx.work, "once")
    finals = {
        "versioned": V.read_version(spark, paths["versioned"]),
        "partitioned": spark.read.parquet(paths["partitioned"]),
        "bloom": spark.read.parquet(paths["bloom"]).drop("_grp"),
    }
    for name, df in finals.items():
        df.coalesce(1).write.parquet(os.path.join(once, name))
    disk = _du(state["root"])[1]
    base = _du(once)[1]
    shutil.rmtree(once, ignore_errors=True)
    return disk / max(1, base)


def teardown(ctx, state):
    shutil.rmtree(state["root"], ignore_errors=True)
