"""spreadsheet_session: a closed-loop HTTP client against server.serve().

The client replays seeded passes of a browse script, like one UI pane:
brushed page scrolls that follow `next_after`, one-shot sketches, SQL,
and progressive NDJSON streams in prefix and merge mode.  Every answer
is checked against values computed from the generated parquet files
with numpy, or against the one-shot answer for the same request.  The
table-maintenance writer runs one pass beside it on its own thread.
"""

from __future__ import annotations

import http.client
import json
import random
import sys
import threading
import time
import traceback
import urllib.parse

import numpy as np
import pyarrow.parquet as pq

import wl_tables
from sparkstats import STAGE_FIELDS, quantile

LI_NUM = ("l_extendedprice", "l_quantity", "l_discount", "l_tax")
HH = {"lineitem": ["l_returnflag", "l_linestatus"], "orders": ["o_orderpriority"]}
HH_K = {"lineitem": 6, "orders": 5}
BRUSH = {"lineitem": "l_extendedprice", "orders": "o_totalprice"}
TIERS = 4
HIST_BUCKETS, HEATMAP_BUCKETS, CDF_BUCKETS = 25, 8, 30


def prepare(ctx):
    """Expected-value columns, and the maintenance writer's tables."""
    cols = {
        "lineitem": ["l_extendedprice", "l_quantity", "l_discount", "l_tax",
                     "l_returnflag", "l_linestatus"],
        "orders": ["o_totalprice", "o_orderpriority"],
    }
    data = {
        t: {c: pq.read_table(f"{ctx.data}/{t}.parquet", columns=cs)[c]
            .to_numpy(zero_copy_only=False) for c in cs}
        for t, cs in cols.items()
    }
    return {"srv": None, "bind": [], "data": data, "tables": wl_tables.setup(ctx, None)}


def setup(ctx, state):
    from hiero_spark import catalog
    from hiero_spark.server import serve

    catalog.register_views(ctx.spark, ctx.data)
    t0 = time.perf_counter()
    srv = serve(ctx.spark, ctx.data)
    state["bind"].append(time.perf_counter() - t0)
    if state["srv"] is not None:
        state["srv"].server_close()
    state["srv"] = srv
    return state


class Client:
    def __init__(self, ctx, state):
        self.ctx = ctx
        self.port = state["srv"].server_address[1]
        self.data = state["data"]
        self.records: list[dict] = []

    # -- HTTP -------------------------------------------------------------
    def _get(self, path: str, params: dict, kind: str, stream: bool = False):
        """One timed request; None, counted as a failed check, if it fails."""
        url = f"{path}?{urllib.parse.urlencode(params)}"
        rec = {"kind": kind, "stream": stream, "mode": params.get("mode"), "status": None}
        self.records.append(rec)
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=150)
        try:
            with self.ctx.tracer.span(kind, "request", op=str(len(self.records))):
                if self.ctx.inject("raise"):
                    raise RuntimeError("injected failure (self-test)")
                rec["epoch0"] = time.time()
                t0 = time.perf_counter()
                conn.request("GET", url)
                resp = conn.getresponse()
                if stream:
                    lines, stamps, nbytes = [], [], 0
                    while True:
                        ln = resp.readline()
                        if not ln:
                            break
                        stamps.append(time.perf_counter() - t0)
                        nbytes += len(ln)
                        lines.append(json.loads(ln))
                    body = lines
                    rec["first"] = stamps[0] if stamps else None
                    rec["gaps"] = [b - a for a, b in zip(stamps, stamps[1:])]
                else:
                    raw = resp.read()
                    nbytes = len(raw)
                    body = json.loads(raw)
                rec["wall"] = time.perf_counter() - t0
                rec["epoch1"] = time.time()
        except Exception as e:  # noqa: BLE001 - a failing request is a failed check
            self.ctx.check(False, f"{kind} {url} raised {type(e).__name__}: {e}")
            return None
        finally:
            conn.close()
        rec["status"], rec["bytes"] = resp.status, nbytes
        if resp.status != 200 or (stream and not body):
            self.ctx.check(False, f"{kind} {url} -> HTTP {resp.status}")
            return None
        return body

    # -- expected values -------------------------------------------------
    def _mask(self, table, lo, hi):
        x = self.data[table][BRUSH[table]]
        return (x >= lo) & (x < hi)

    @staticmethod
    def _brush(table, lo, hi):
        return {"table": table, "fcol": BRUSH[table], "flo": repr(lo), "fhi": repr(hi)}

    # -- one pass of the browse script -----------------------------------
    def run_pass(self, rng: random.Random, p: int) -> None:
        """Pass `p` of the browse script.  The seed places the brushes and
        the SQL ranges; columns and bucket counts rotate with the pass, so
        that every seed runs the same mix of work.  Stream modes alternate
        within a pass and between passes."""
        # brushes of fixed width (~30% of each column's range) at seeded
        # positions, so every pass filters about the same number of rows
        li_lo = round(rng.uniform(900, 74000), 2)
        li_hi = round(li_lo + 31000, 2)
        o_lo = round(rng.uniform(1000, 349000), 2)
        o_hi = round(o_lo + 150000, 2)
        li, od = self._brush("lineitem", li_lo, li_hi), self._brush("orders", o_lo, o_hi)
        m_li, m_od = self._mask("lineitem", li_lo, li_hi), self._mask("orders", o_lo, o_hi)
        modes = ("prefix", "merge") if p % 2 == 0 else ("merge", "prefix")
        col = [LI_NUM[(p + i) % len(LI_NUM)] for i in range(len(LI_NUM))]
        qty = rng.randint(1, 30)
        self.pages("lineitem", li, m_li, f"-{col[0]},l_orderkey", 3)
        self.histogram_pair(li, m_li, col[0], HIST_BUCKETS, modes[0])
        self.heavy_hitters_pair(od, m_od, modes[1])
        self.heatmap(li, m_li, modes[0], HEATMAP_BUCKETS)
        self.quantiles(li, m_li, col[1])
        self.colstats(li, m_li, col[2])
        self.cdf(li, m_li, col[3], CDF_BUCKETS)
        self.sql_lineitem(qty)
        self.sql_orders(o_lo, o_hi)

    def pages(self, table, brush, mask, order, n):
        names = [c.lstrip("-") for c in order.split(",")]
        sign = [(-1 if c.startswith("-") else 1) for c in order.split(",")]
        prev = None
        for _ in range(n):
            params = {**brush, "order": order, "k": 50}
            if prev is not None:
                params["after"] = json.dumps(prev)
            body = self._get(f"/api/page/{table}", params, "page")
            if body is None:
                return
            keys = [tuple(s * r[c] for s, c in zip(sign, names)) for r in body["rows"]]
            ok = len(keys) > 0 and all(a < b for a, b in zip(keys, keys[1:]))
            nxt = body["next_after"]
            if prev is not None and nxt is not None:
                # NextK resumes inclusively: a page starts at its start row
                start = tuple(s * prev[c] for s, c in zip(sign, names))
                ok = ok and keys[0] >= start and tuple(
                    s * nxt[c] for s, c in zip(sign, names)) > start
            self.ctx.check(ok, f"page {table} {order} not ordered / next_after not increasing")
            prev = nxt

    def histogram_pair(self, brush, mask, col, buckets, mode):
        params = {**brush, "col": col, "buckets": buckets}
        one = self._get("/api/sketch/histogram", params, "histogram")
        if one is not None:
            want = int(mask.sum()) + self.ctx.inject("corrupt")
            got = sum(r["bucket_count"] for r in one["rows"])
            self.ctx.check(got == want, f"histogram {col} sums to {got}, want {want}")
        tiers = self._get("/api/progressive/histogram",
                          {**params, "tiers": TIERS, "mode": mode}, "p_histogram", True)
        if one is not None and tiers is not None:
            self._check_tiers(tiers, one["rows"], f"progressive histogram {mode}")

    def heavy_hitters_pair(self, brush, mask, mode):
        cols = HH[brush["table"]]
        params = {**brush, "cols": ",".join(cols), "k": HH_K[brush["table"]]}
        one = self._get("/api/sketch/heavy_hitters", params, "heavy_hitters")
        if one is not None:
            d = self.data[brush["table"]]
            keys = list(zip(*[d[c][mask] for c in cols]))
            want = {}
            for k in keys:
                want[k] = want.get(k, 0) + 1
            got = {tuple(r[c] for c in cols): r["cnt"] for r in one["rows"]}
            self.ctx.check(got == want, f"heavy_hitters {cols} counts differ")
        tiers = self._get("/api/progressive/heavy_hitters",
                          {**params, "tiers": TIERS, "mode": mode}, "p_heavy_hitters", True)
        if one is not None and tiers is not None:
            key = lambda r: json.dumps(r, sort_keys=True)  # noqa: E731
            self._check_tiers(tiers, sorted(one["rows"], key=key),
                              f"progressive heavy_hitters {mode}", key=key)

    def _check_tiers(self, tiers, final, what, key=None):
        fr = [t["fraction"] for t in tiers]
        ok = all(a < b for a, b in zip(fr, fr[1:])) and fr[-1] == 1.0
        last = tiers[-1]["rows"]
        if key is not None:
            last = sorted(last, key=key)
        self.ctx.check(ok and last == final, f"{what}: last tier != one-shot answer")

    def heatmap(self, brush, mask, mode, n):
        params = {**brush, "xcol": "l_extendedprice", "ycol": "l_quantity",
                  "xbuckets": n, "ybuckets": n, "tiers": TIERS, "mode": mode}
        tiers = self._get("/api/progressive/heatmap", params, "p_heatmap", True)
        if tiers is not None:
            got = sum(r["cell_count"] for r in tiers[-1]["rows"])
            self.ctx.check(got == int(mask.sum()) and tiers[-1]["fraction"] == 1.0,
                        f"heatmap cells sum to {got}")

    def colstats(self, brush, mask, col):
        body = self._get("/api/sketch/colstats", {**brush, "col": col}, "colstats")
        if body is not None:
            r, x = body["rows"][0], self.data["lineitem"][col][mask]
            self.ctx.check(r["present_count"] == len(x) and r["min_val"] == x.min()
                        and r["max_val"] == x.max(), f"colstats {col} differ")

    def cdf(self, brush, mask, col, buckets):
        body = self._get("/api/sketch/cdf", {**brush, "col": col, "buckets": buckets}, "cdf")
        if body is not None:
            cum = [r["cum_count"] for r in body["rows"]]
            self.ctx.check(bool(cum) and cum[-1] == int(mask.sum())
                        and all(a <= b for a, b in zip(cum, cum[1:])), f"cdf {col} differs")

    def quantiles(self, brush, mask, col):
        probs = (0.25, 0.5, 0.75)
        body = self._get("/api/sketch/quantiles",
                         {**brush, "col": col, "probs": ",".join(map(str, probs))},
                         "quantiles")
        if body is not None:
            x = self.data["lineitem"][col][mask]
            want = np.percentile(x, [100 * p for p in probs])
            got = [body["rows"][0][f"q{int(p * 100)}"] for p in probs]
            self.ctx.check(np.allclose(got, want, rtol=1e-9, atol=1e-9),
                        f"quantiles {col}: {got} vs {list(want)}")

    def sql_lineitem(self, qty):
        q = (f"SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
             f"WHERE l_quantity >= {qty} AND l_quantity < {qty + 20} GROUP BY l_returnflag")
        body = self._get("/api/sql", {"q": q}, "sql")
        if body is not None:
            d = self.data["lineitem"]
            m = (d["l_quantity"] >= qty) & (d["l_quantity"] < qty + 20)
            flags, counts = np.unique(d["l_returnflag"][m], return_counts=True)
            want = dict(zip(flags.tolist(), counts.tolist()))
            got = {r["l_returnflag"]: r["n"] for r in body["rows"]}
            self.ctx.check(got == want, f"sql lineitem qty in [{qty}, {qty + 20}) differs")

    def sql_orders(self, lo, hi):
        q = (f"SELECT o_orderpriority, COUNT(*) AS n FROM orders "
             f"WHERE o_totalprice >= {lo} AND o_totalprice < {hi} GROUP BY o_orderpriority")
        body = self._get("/api/sql", {"q": q}, "sql")
        if body is not None:
            d = self.data["orders"]
            m = (d["o_totalprice"] >= lo) & (d["o_totalprice"] < hi)
            pr, counts = np.unique(d["o_orderpriority"][m], return_counts=True)
            got = {r["o_orderpriority"]: r["n"] for r in body["rows"]}
            self.ctx.check(got == dict(zip(pr.tolist(), counts.tolist())),
                        f"sql orders in [{lo}, {hi}) differs")


def run(ctx, state):
    srv = state["srv"]
    th = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05},
                          daemon=True)
    th.start()
    writer = wl_tables.Maintainer(ctx, state["tables"])
    crashed = []

    def write():
        try:
            writer.run_pass()
        except BaseException:
            crashed.append(traceback.format_exc())
            raise

    # The browse client runs whole passes, at least one and on while
    # --seconds lasts, beside the writer for exactly one pass.
    client, rng, passes = Client(ctx, state), random.Random(ctx.seed * 1009), 0
    ctx.start_clock(ctx.args.seconds)
    t0 = time.perf_counter()
    wt = threading.Thread(target=write)
    wt.start()
    try:
        while not passes or ctx.time_left():
            client.run_pass(rng, passes)
            passes += 1
        browse_s = time.perf_counter() - t0
    finally:
        wt.join()
    if crashed:
        sys.exit(f"perfbench: the writer thread crashed:\n{crashed[0]}")

    recs = [r for r in client.records if r["status"] == 200]
    plain = [r["wall"] for r in recs if not r["stream"]]
    streams = [r for r in recs if r["stream"] and r["first"] is not None]
    D = ctx.detail
    D["ui_request_p50_s"] = quantile(plain, 0.5)
    D["ui_request_p90_s"] = quantile(plain, 0.9)
    D["ui_first_tier_p50_s"] = quantile([r["first"] for r in streams], 0.5)
    D["ui_final_tier_p50_s"] = quantile([r["wall"] for r in streams], 0.5)
    ops = plain + [r["first"] for r in streams] + writer.summarize()
    if ctx.trace:
        _layers(ctx, state, recs, passes, set(writer.job_ids()))
    return {
        "pass_s": browse_s / passes,
        "op_p50_s": quantile(ops, 0.5),
        "op_p75_s": quantile(ops, 0.75),
        "samples": len(ops),
    }


def _union(intervals) -> float:
    tot, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            tot += b - a
            end = b
        elif b > end:
            tot += b - end
            end = b
    return tot


def _layers(ctx, state, recs, n_pass, writer_jobs):
    L, st = ctx.layers, ctx.stats
    jobs = [j for j in st.all_jobs() if j["submit"] is not None and j["done"] is not None
            and j["id"] not in writer_jobs]
    self_s, jpr, jps, timed_jobs = [], [], [], []
    for r in recs:
        mine = [j for j in jobs if r["epoch0"] <= j["submit"] <= r["epoch1"]]
        timed_jobs += [j["id"] for j in mine]
        if r["stream"]:
            jps.append(len(mine))
        else:
            jpr.append(len(mine))
            busy = _union([(j["submit"], min(j["done"], r["epoch1"])) for j in mine])
            self_s.append(max(0.0, r["wall"] - busy))
    tot = st.stage_totals(timed_jobs)
    L["exec.jobs"] = len(timed_jobs) / n_pass
    for f in STAGE_FIELDS:
        L[f"exec.{f}"] = tot[f] / n_pass
    L["setup.server_bind_s"] = quantile(state["bind"], 0.5)
    L["ui.server_self_s"] = quantile(self_s, 0.5)
    L["ui.jobs_per_request"] = sum(jpr) / max(1, len(jpr))
    L["ui.jobs_per_stream"] = sum(jps) / max(1, len(jps))
    L["ui.response_kb"] = sum(r["bytes"] for r in recs if not r["stream"]) / 1024.0 / max(1, len(jpr))
    for kind in ("page", "histogram", "colstats", "heavy_hitters", "cdf", "quantiles", "sql"):
        L[f"ui.{kind}_p50_s"] = quantile([r["wall"] for r in recs if r["kind"] == kind], 0.5)
    for mode in ("prefix", "merge"):
        s = [r for r in recs if r["stream"] and r["mode"] == mode]
        L[f"ui.{mode}_first_tier_p50_s"] = quantile([r["first"] for r in s], 0.5)
        L[f"ui.{mode}_final_p50_s"] = quantile([r["wall"] for r in s], 0.5)
    L["ui.tier_gap_p50_s"] = quantile([g for r in recs if r["stream"] for g in r["gaps"]], 0.5)


def teardown(ctx, state):
    state["srv"].shutdown()
    state["srv"].server_close()
    wl_tables.teardown(ctx, state["tables"])
