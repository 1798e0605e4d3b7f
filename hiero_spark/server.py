"""Headless HTTP JSON facade — the seam where hiero's web UI attaches.

The reference is a web spreadsheet for big data: a TypeScript UI speaks
JSON to a root node, which fans mergeable sketches out to workers and
streams PartialResults back as they refine (SURVEY.md §3-§4). The UI
layer itself is deliberately out of scope (§7.4.5); this module is the
Spark-side analog of the ROOT NODE's API surface, so any UI — a browser
table widget, a notebook, `curl` — gets the same contract the reference
UI consumes. stdlib only (http.server + json): no new dependencies.

  GET /api/tables                          catalog: name, schema, columns
  GET /api/queries                         registry: name, group, doc
  GET /api/query/<name>?limit=N            run a registered query (rows)
  GET /api/sql?q=<select...>               ANSI-SQL entry point (facade)
  GET /api/page/<table>?order=a,-b&k=20[&after=...]   O1 spreadsheet scroll
  GET /api/sketch/summary?table=T          A1 row count
  GET /api/sketch/colstats?table=T&col=C   A2 per-column stats
  GET /api/sketch/histogram?table=T&col=C&buckets=N[&spec=1]  A4 (+Vega)
  GET /api/sketch/cdf?table=T&col=C&buckets=N[&spec=1]        A5 (+Vega)
  GET /api/sketch/heavy_hitters?table=T&cols=a,b&k=K          A8
  GET /api/sketch/quantiles?table=T&col=C&probs=0.5,0.9       A11
  GET /api/progressive/histogram?table=T&col=C&tiers=K[&mode=merge]
  GET /api/progressive/heatmap?table=T&xcol=X&ycol=Y&xbuckets=N&ybuckets=M
  GET /api/progressive/cdf?table=T&col=C&buckets=N
  GET /api/progressive/quantiles?table=T&col=C&probs=0.5,0.9
  GET /api/progressive/heavy_hitters?table=T&cols=a,b&k=K
      -> one JSON line per tier: {"fraction": f, "rows": [...]}  —
      hiero's PartialResult stream over plain chunked HTTP; the last
      line is the exact full sketch. mode=prefix (default) rescans a
      growing prefix; mode=merge sketches each slice once and merges
      the partials (total work ~ one scan, hiero's tree-merge cost).

Scale contract (the root-node invariant): every response is RENDER-sized,
never data-sized. Query/page rows are capped (`limit` <= MAX_ROWS),
sketch outputs are O(buckets) by construction, and the progressive stream
is `tiers` lines of O(buckets) each. The 100 TB cost lives in the Spark
jobs behind the endpoint; the HTTP layer only ever ships what a screen
can show, exactly like the reference's tree-merged sketch results.

Concurrency: ThreadingHTTPServer + Spark's thread-safe job submission —
two browser panes refining two histograms become two concurrent Spark
jobs, scheduled by the FAIR/FIFO scheduler like the reference's
concurrent sketch executions.
"""

from __future__ import annotations

import datetime
import decimal
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

from hiero_spark import catalog, viz
from hiero_spark.operators import pagination, sketches
from hiero_spark.registry import all_queries
from hiero_spark.views import RecordOrder

MAX_ROWS = 1000

# Progressive-stream observability: stream_id -> {"kind", "tiers",
# "tiers_done", "cancelled", "done"}.  Written by
# _stream_with_cancellation; read by tests and operators debugging a
# long-lived server.  Bounded: entries are per-request and tiny.
_STREAMS: dict[str, dict] = {}

# /api/sql guard (round-8 ADVICE, medium): the old prefix check let
# 'WITH t AS (...) INSERT OVERWRITE ...' through (Spark accepts
# CTE-prefixed DML) and a plain SELECT could read arbitrary local files
# via path-based tables (text.`/etc/passwd`).  The guard now walks the
# PARSED plan (toJSON covers CTE definitions and subquery expressions):
# every relation must be a registered single-part view name or a CTE
# defined in the statement itself; any DML/DDL/command node class and
# the JVM-reflection SQL functions are rejected by name.
_DENY_NODE_SUFFIXES = ("Command", "Statement")
_DENY_NODES = frozenset({
    "InsertIntoStatement", "DeleteFromTable", "UpdateTable", "MergeIntoTable",
    "DropTable", "DropView", "CreateTable", "CreateTableAsSelect",
    "ReplaceTable", "ReplaceTableAsSelect", "CreateView", "AlterViewAs",
    "RenameTable", "SetTableProperties", "UnsetTableProperties",
    "SetTableLocation", "AddColumns", "DropColumns", "RenameColumn",
    "AlterColumns", "CreateNamespace", "DropNamespace", "SetCatalogAndNamespace",
    "CacheTable", "UncacheTable", "RefreshTable", "TruncateTable",
    "RepairTable", "LoadData", "AnalyzeTable", "AnalyzeTables",
    "AnalyzeColumn", "CommentOnTable", "CommentOnNamespace", "Call",
    "WriteFiles", "OverwriteByExpression", "OverwritePartitionsDynamic",
    "AppendData",
})
_DENY_FUNCTIONS = frozenset({"reflect", "java_method"})
# Table-valued functions a read-only spreadsheet query legitimately uses.
# Everything else (including future data-source TVFs) is rejected — the
# round-9 ADVICE hole: UnresolvedTableValuedFunction nodes were not
# checked at all.
_ALLOW_TVFS = frozenset({
    "range", "explode", "explode_outer", "posexplode", "posexplode_outer",
    "inline", "inline_outer", "stack",
})

_BUILTIN_FUNCTIONS: set[str] = set()


def _builtin_functions(spark: SparkSession) -> set[str]:
    """Names in Spark's built-in function registry (cached once).  The
    allow-list base: a function that is NOT a builtin (a UDF someone
    registered on the shared session, a future alias) is rejected, and
    builtins still pass through the explicit deny set."""
    if not _BUILTIN_FUNCTIONS:
        _BUILTIN_FUNCTIONS.update(
            f.name.lower() for f in spark.catalog.listFunctions()
        )
    return _BUILTIN_FUNCTIONS


def _name_parts(node: dict, key: str) -> list[str] | None:
    """Defensively normalize a parsed-plan identifier field.  Spark's
    toJSON renders Seq[String] via truncatedString today ("[a, b]") but
    that is not a stable contract (round-9 ADVICE) — handle list, string
    and missing shapes; None means 'could not parse' and callers must
    fail CLOSED (reject), never crash with AttributeError."""
    v = node.get(key)
    if isinstance(v, list):
        parts = [str(x) for x in v]
    elif isinstance(v, str):
        parts = [p.strip() for p in v.strip("[]").split(",")]
    else:
        return None
    parts = [p for p in parts if p]
    return parts if parts else None


def _reject_unsafe_sql(spark: SparkSession, sql: str, allowed: set[str]) -> None:
    """Raise ValueError unless `sql` is a read-only query over registered
    views.  Fail closed: anything unparseable or unserializable is an
    error, never a pass."""
    if not sql.lstrip().lower().startswith(("select", "with")):
        raise ValueError("only SELECT/WITH statements")
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        tree = json.loads(plan.toJSON())
    except json.JSONDecodeError as e:  # pragma: no cover - jvm serialization
        raise ValueError(f"could not validate statement: {e}") from e
    except Exception as e:  # Py4J ParseException etc.
        raise ValueError(f"parse error: {getattr(e, 'desc', e)}") from e

    nodes: list[dict] = []

    def walk(o):
        if isinstance(o, dict):
            if o.get("class"):
                nodes.append(o)
            for v in o.values():
                walk(v)
        elif isinstance(o, list):
            for v in o:
                walk(v)

    walk(tree)
    # CTE names defined in this statement are legal relation targets
    cte_names = {
        rel["_1"]
        for n in nodes
        if n["class"].endswith(".UnresolvedWith")
        for rel in n.get("cteRelations", [])
        if isinstance(rel, dict) and isinstance(rel.get("_1"), str)
    }
    ok_rels = {name.lower() for name in allowed | cte_names}
    builtins = _builtin_functions(spark)
    for n in nodes:
        cls = n["class"]
        short = cls.rsplit(".", 1)[-1]
        if (
            cls.startswith("org.apache.spark.sql.execution.command.")
            or short.endswith(_DENY_NODE_SUFFIXES)
            or short in _DENY_NODES
        ):
            raise ValueError(f"read-only endpoint: {short} not allowed")
        if short == "UnresolvedRelation":
            parts = _name_parts(n, "multipartIdentifier")
            if (
                parts is None
                or len(parts) != 1
                or parts[0].lower() not in ok_rels
            ):
                raise ValueError(
                    f"unknown or path-based table {parts}: only registered "
                    "views and statement CTEs are readable"
                )
        if short == "UnresolvedFunction":
            parts = _name_parts(n, "nameParts")
            # allow-list (round-9 ADVICE): single-part builtin names only;
            # session UDFs, catalog-qualified names, unparseable shapes
            # and the reflection builtins all fail closed
            if parts is None or len(parts) != 1:
                raise ValueError(f"function {parts} not allowed")
            fname = parts[0].lower()
            if fname in _DENY_FUNCTIONS or fname not in builtins:
                raise ValueError(f"function {fname!r} not allowed")
        if short == "UnresolvedTableValuedFunction":
            parts = (
                _name_parts(n, "name")
                or _name_parts(n, "functionName")
                or _name_parts(n, "nameParts")
            )
            if (
                parts is None
                or len(parts) != 1
                or parts[0].lower() not in _ALLOW_TVFS
            ):
                raise ValueError(
                    f"table-valued function {parts} not allowed"
                )


def _json_default(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _dumps(obj) -> bytes:
    return json.dumps(obj, default=_json_default).encode()


def _rows(df: DataFrame, limit: int = MAX_ROWS) -> list[dict]:
    limit = max(1, min(int(limit), MAX_ROWS))
    return [r.asDict(recursive=True) for r in df.limit(limit).collect()]


def _parse_order(spec: str) -> RecordOrder:
    """'a,-b' -> RecordOrder(((a, asc), (b, desc)))."""
    cols = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if part.startswith("-"):
            cols.append((part[1:], False))
        else:
            cols.append((part.lstrip("+"), True))
    if not cols:
        raise ValueError("empty order spec")
    return RecordOrder(cols=tuple(cols))


class HieroHandler(BaseHTTPRequestHandler):
    # injected by serve(): spark session + data directory
    spark: SparkSession = None
    sf_dir: str = ""

    def log_message(self, fmt, *args):  # quiet by default (tests, daemons)
        pass

    # -- plumbing ---------------------------------------------------------
    def _send(self, obj, status: int = 200):
        body = _dumps(obj)
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, status: int, msg: str):
        self._send({"error": msg}, status=status)

    def _table(self, q) -> DataFrame:
        name = q.get("table", [""])[0]
        df = catalog.load_table(self.spark, self.sf_dir, name)
        return self._apply_range_filter(df, q)

    @staticmethod
    def _apply_range_filter(df: DataFrame, q) -> DataFrame:
        """Optional P2 range filter (`fcol`/`flo`/`fhi` query params) — the
        server half of the UI's brush-to-filter loop (round-9 verdict #5):
        brushing a histogram range spawns a child view whose scroll and
        sketches all carry the same filter.  Numeric-typed and validated
        (never raw SQL), a narrow predicate Catalyst pushes to the scan;
        half-open [lo, hi) so adjacent brushes tile without overlap."""
        from pyspark.sql import functions as F

        fcol = q.get("fcol", [None])[0]
        if not fcol:
            return df
        if fcol not in df.columns:
            raise ValueError(f"unknown filter column {fcol!r}")
        flo, fhi = q.get("flo", [None])[0], q.get("fhi", [None])[0]
        c = F.col(fcol).cast("double")
        if flo is not None:
            df = df.filter(c >= float(flo))
        if fhi is not None:
            df = df.filter(c < float(fhi))
        return df

    # -- routes -----------------------------------------------------------
    def do_GET(self):  # noqa: N802 (http.server API)
        url = urlparse(self.path)
        q = parse_qs(url.query)
        parts = [p for p in url.path.split("/") if p]
        try:
            if parts in ([], ["ui"]):
                return self._ui_page()
            if parts[:2] == ["api", "tables"]:
                return self._send(
                    [
                        {
                            "name": n,
                            "columns": [
                                {"name": f.name, "type": f.dataType.simpleString()}
                                for f in catalog.load_table(
                                    self.spark, self.sf_dir, n
                                ).schema.fields
                            ],
                        }
                        for n in catalog.TABLES
                    ]
                )
            if parts[:2] == ["api", "queries"]:
                return self._send(
                    [
                        {
                            "name": n,
                            "group": getattr(s, "group", None),
                            "doc": (getattr(s, "doc", "") or "").split(". ")[0],
                            "has_oracle": bool(getattr(s, "oracle", None)),
                        }
                        for n, s in sorted(all_queries().items())
                    ]
                )
            if parts[:2] == ["api", "query"] and len(parts) == 3:
                specs = all_queries()
                if parts[2] not in specs:
                    return self._error(404, f"unknown query {parts[2]!r}")
                # fn() itself is inside the try: eager operators can
                # register tracked persists and THEN raise at build time;
                # those must be released on this request too, not left
                # for the next request to drain.
                try:
                    df = specs[parts[2]].fn(self.spark, self.sf_dir)
                    payload = {
                        "query": parts[2],
                        "columns": df.columns,
                        "rows": _rows(df, int(q.get("limit", [MAX_ROWS])[0])),
                    }
                finally:
                    # set-similarity/minhash operators persist internal
                    # frames for their multi-consumer plans; a long-lived
                    # server must release them per request or the caches
                    # accumulate for the session.  Released BEFORE the
                    # response goes out, so a client that has its answer
                    # sees the session's caches as they were before.
                    from hiero_spark.functions._cachetrack import (
                        release_caches,
                    )

                    release_caches()
                return self._send(payload)
            if parts[:2] == ["api", "sql"]:
                sql = q.get("q", [""])[0]
                _reject_unsafe_sql(self.spark, sql, set(catalog.TABLES))
                catalog.register_views(self.spark, self.sf_dir)
                df = self.spark.sql(sql)
                return self._send(
                    {
                        "columns": df.columns,
                        "rows": _rows(df, int(q.get("limit", [MAX_ROWS])[0])),
                    }
                )
            if parts[:2] == ["api", "page"] and len(parts) == 3:
                df = self._apply_range_filter(
                    catalog.load_table(self.spark, self.sf_dir, parts[2]), q
                )
                order = _parse_order(q.get("order", [""])[0])
                k = min(int(q.get("k", ["20"])[0]), MAX_ROWS)
                after = (
                    json.loads(q["after"][0]) if "after" in q else None
                )
                page = pagination.next_k(df, order, k, start=after)
                rows = _rows(page, k)
                return self._send(
                    {
                        "rows": rows,
                        # resume token: order-col snapshot of the last row
                        "next_after": (
                            {nm: rows[-1][nm] for nm, _ in order.cols}
                            if rows
                            else None
                        ),
                    }
                )
            if parts[:2] == ["api", "sketch"] and len(parts) == 3:
                return self._sketch(parts[2], q)
            if parts[:2] == ["api", "progressive"] and len(parts) == 3:
                return self._progressive(parts[2], q)
            if parts[:2] == ["api", "streams"]:
                # Progress observability for PartialResult streams
                # (SURVEY §3.1: hiero's UI shows a fraction-done meter per
                # in-flight RPC).  fraction_done is monotone per stream and
                # reaches 1.0 exactly when the stream drained all tiers;
                # a cancelled stream freezes below 1.0 with cancelled=true.
                if len(parts) == 3:
                    st = _STREAMS.get(parts[2])
                    if st is None:
                        return self._error(404, f"unknown stream {parts[2]!r}")
                    return self._send({"stream_id": parts[2], **st})
                return self._send(
                    [{"stream_id": sid, **st} for sid, st in _STREAMS.items()]
                )
            return self._error(404, f"no route for {url.path}")
        except (KeyError, ValueError) as e:
            return self._error(400, str(e))

    def _ui_page(self):
        """Serve the static spreadsheet demo (examples/ui.html — the UI
        seam proof: NextK scroll + a progressive histogram against this
        very API, no build chain)."""
        import os

        page = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "ui.html",
        )
        try:
            with open(page, "rb") as fh:
                body = fh.read()
        except OSError:
            return self._error(404, "examples/ui.html not found")
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _sketch(self, kind: str, q):
        df = self._table(q)
        col = q.get("col", [""])[0]
        n = int(q.get("buckets", ["20"])[0])
        if kind == "summary":
            return self._send({"rows": _rows(sketches.summary(df))})
        if kind == "colstats":
            return self._send({"rows": _rows(sketches.basic_col_stats(df, col))})
        if kind == "histogram":
            numeric = dict(df.dtypes)[col] not in ("string", "boolean")
            hist = (
                sketches.histogram1d(df, col, n=n).orderBy("bucket")
                if numeric
                else sketches.histogram_categorical(df, col)
                .orderBy("bucket_count", ascending=False)
                .limit(n)
            )
            out = {"rows": _rows(hist)}
            if q.get("spec"):
                out["vega"] = viz.histogram_spec(
                    hist, "bucket" if numeric else col, "bucket_count"
                )
            return self._send(out)
        if kind == "cdf":
            row = sketches.data_range(df, col).collect()[0]
            lo, hi = float(row["min_val"]), float(row["max_val"])
            cdf = sketches.cdf(df, col, lo, hi, n)
            out = {"rows": _rows(cdf), "lo": lo, "hi": hi}
            if q.get("spec"):
                out["vega"] = viz.cdf_spec(cdf, "bucket", "cum_count")
            return self._send(out)
        if kind == "heavy_hitters":
            cols = [c for c in q.get("cols", [""])[0].split(",") if c]
            k = min(int(q.get("k", ["10"])[0]), MAX_ROWS)
            return self._send({"rows": _rows(sketches.heavy_hitters(df, cols, k))})
        if kind == "quantiles":
            probs = [float(p) for p in q.get("probs", ["0.5"])[0].split(",")]
            exact = q.get("exact", ["1"])[0] == "1"
            return self._send(
                {"rows": _rows(sketches.quantiles(df, col, probs, exact=exact))}
            )
        return self._error(404, f"unknown sketch {kind!r}")

    def _progressive(self, kind: str, q):
        """PartialResult stream: one JSON line per tier, flushed as computed.

        Two modes (the two §4.3 emulation shapes in hiero_spark/
        progressive.py):

        * mode=prefix (default): each line is an exact sketch of a known
          fraction (tier i rescans the first (i+1)/tiers of the data —
          first paint fastest, ~tiers/2 scans total);
        * mode=merge: each 1/tiers slice is sketched ONCE and the
          bounded partials merge (the monoid ⊕) — total work ≈ one full
          scan, exactly hiero's tree-merge cost model.

        Either way the LAST line is the exact full answer, so a client
        may stop reading whenever the shape has stabilized — the same
        early-abort the reference UI offers.  Tiers: histogram (A4),
        heatmap (A6), heavy_hitters (A8) — all mergeable-aggregation
        sketches a spreadsheet pane refines live.
        """
        from pyspark.sql import functions as F

        from hiero_spark.progressive import progressive_merge, progressive_prefix

        df = self._table(q)
        tiers = max(2, min(int(q.get("tiers", ["4"])[0]), 16))
        key = q.get("key", [df.columns[0]])[0]
        mode = q.get("mode", ["prefix"])[0]
        if mode not in ("prefix", "merge"):
            return self._error(400, "mode must be prefix|merge")
        if kind == "histogram":
            col = q.get("col", [""])[0]
            n = int(q.get("buckets", ["20"])[0])
            row = sketches.data_range(df, col).collect()[0]
            lo, hi = float(row["min_val"]), float(row["max_val"])

            def sketch(d):
                return sketches.histogram1d(d, col, lo, hi, n).orderBy("bucket")

            def merge(parts):
                return (
                    parts.groupBy("bucket")
                    .agg(F.sum("bucket_count").cast("long").alias("bucket_count"))
                    .orderBy("bucket")
                )
        elif kind == "heatmap":
            xcol = q.get("xcol", [""])[0]
            ycol = q.get("ycol", [""])[0]
            xn = int(q.get("xbuckets", ["10"])[0])
            yn = int(q.get("ybuckets", ["10"])[0])
            # bucket edges pinned from the FULL data range so every tier's
            # cells are comparable (the refine-in-place contract) AND the
            # per-slice partials are mergeable by cell
            xr = sketches.data_range(df, xcol).collect()[0]
            yr = sketches.data_range(df, ycol).collect()[0]

            def sketch(d):
                return sketches.heatmap(
                    d,
                    xcol, float(xr["min_val"]), float(xr["max_val"]), xn,
                    ycol, float(yr["min_val"]), float(yr["max_val"]), yn,
                ).orderBy("bucket_x", "bucket_y")

            def merge(parts):
                return (
                    parts.groupBy("bucket_x", "bucket_y")
                    .agg(F.sum("cell_count").cast("long").alias("cell_count"))
                    .orderBy("bucket_x", "bucket_y")
                )
        elif kind == "cdf":
            col = q.get("col", [""])[0]
            n = int(q.get("buckets", ["20"])[0])
            row = sketches.data_range(df, col).collect()[0]
            lo, hi = float(row["min_val"]), float(row["max_val"])

            def sketch(d):
                return sketches.cdf(d, col, lo, hi, n).orderBy("bucket")

            # cumulative counts are NOT mergeable once a slice skips an
            # empty bucket (its cum contribution to later buckets would
            # vanish) — so merge-mode partials are plain histogram counts
            # (additive with absent == 0) and the accumulation happens at
            # merge time over the summed buckets
            def sketch_partial(d):
                return sketches.histogram1d(d, col, lo, hi, n)

            def merge(parts):
                from pyspark.sql import Window

                w = Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, 0
                )
                return (
                    parts.groupBy("bucket")
                    .agg(F.sum("bucket_count").alias("bucket_count"))
                    .select(
                        "bucket",
                        F.sum("bucket_count").over(w).cast("long")
                        .alias("cum_count"),
                    )
                    .orderBy("bucket")
                )
        elif kind == "quantiles":
            col = q.get("col", [""])[0]
            probs = [float(p) for p in q.get("probs", ["0.5"])[0].split(",")]
            if mode == "merge":
                # exact quantiles are not a monoid over slice outputs
                # (no bounded merge of two quantile vectors is exact);
                # prefix tiers give the same refine-to-exact contract
                return self._error(400, "quantiles supports mode=prefix only")

            def sketch(d):
                return sketches.quantiles(d, col, probs, exact=True)
        elif kind == "heavy_hitters":
            cols = [c for c in q.get("cols", [""])[0].split(",") if c]
            if not cols:
                return self._error(400, "cols required")
            k = min(int(q.get("k", ["10"])[0]), MAX_ROWS)

            def sketch(d):
                return sketches.heavy_hitters(d, cols, k)

            # merge-mode partials are the FULL per-slice counts (top-k is
            # not a monoid — a slice's #k+1 can be the global #1), so ⊕
            # re-sums and only THEN cuts to k; partial size is O(distinct
            # combos), the exact-frequency relation A9 already bounds
            def sketch_partial(d):
                return d.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt"))

            def merge(parts):
                return (
                    parts.groupBy(*cols)
                    .agg(F.sum("cnt").cast("long").alias("cnt"))
                    .orderBy(F.desc("cnt"), *[F.col(c).asc() for c in cols])
                    .limit(k)
                )
        else:
            return self._error(404, f"unknown progressive sketch {kind!r}")

        if mode == "merge":
            partial = (
                sketch_partial if kind in ("heavy_hitters", "cdf") else sketch
            )
            stream = progressive_merge(df, partial, merge, [key], tiers=tiers)
        else:
            stream = progressive_prefix(df, sketch, [key], tiers=tiers)
        # bucket edges ride every histogram/cdf tier line so a client can
        # map a brushed bucket range back to VALUES for the child view's
        # fcol/flo/fhi filter (value_lo = lo + i*(hi-lo)/buckets)
        meta = (
            {"lo": lo, "hi": hi, "buckets": n}
            if kind in ("histogram", "cdf")
            else None
        )
        self._stream_with_cancellation(stream, kind, tiers, meta)

    def _stream_with_cancellation(
        self, stream, kind: str, tiers: int, meta: dict | None = None
    ):
        """Write the tier stream; on client disconnect, CANCEL the Spark
        job group so an in-flight slice stops (round-9 verdict #4 — the
        unsubscribe half of hiero's PartialResult contract, SURVEY §3.1
        step 5: RxJava unsubscription propagates down the operator tree).

        Tiers compute in a worker thread that owns the job group
        (setJobGroup is thread-local) and stays ONE tier ahead through a
        bounded queue — so when the handler thread detects a broken pipe,
        the worker usually has a Spark job mid-flight, and
        cancelJobGroup(interruptOnCancel=True) kills it instead of letting
        it run to a result nobody will read.  _STREAMS[stream_id] records
        tiers_done / cancelled / done for observability and tests."""
        import queue as _queue
        import threading
        import uuid

        sc = self.spark.sparkContext
        stream_id = f"hiero-progressive-{uuid.uuid4().hex[:12]}"
        state = {
            "kind": kind, "tiers": tiers, "tiers_done": 0,
            # fraction of the tier plan already streamed (0.0 → 1.0,
            # monotone — taken from the plan's own tier fractions, so in
            # prefix mode it is literally the fraction of data scanned)
            "fraction_done": 0.0,
            "cancelled": False, "done": False,
        }
        while len(_STREAMS) > 256:  # bound driver memory on long uptimes
            _STREAMS.pop(next(iter(_STREAMS)))
        _STREAMS[stream_id] = state
        out_q: _queue.Queue = _queue.Queue(maxsize=1)
        stop = threading.Event()

        def produce():
            sc.setJobGroup(stream_id, f"progressive {kind}",
                           interruptOnCancel=True)
            try:
                for frac, part in stream:
                    if stop.is_set():
                        break
                    tier = {"fraction": frac, "rows": _rows(part)}
                    if meta:
                        tier.update(meta)
                    state["tiers_done"] += 1
                    state["fraction_done"] = max(state["fraction_done"], frac)
                    out_q.put(_dumps(tier) + b"\n")
            except Exception as e:  # cancelled job raises through collect()
                if not stop.is_set():
                    out_q.put(e)  # genuine failure: surface to the handler
            finally:
                # PySpark has no clearJobGroup; reset the thread-locals so
                # a pooled thread can't leak the group onto later jobs.
                # Closing the stream makes one left mid-way (cancel,
                # failure) release the partials progressive_merge persisted.
                try:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    stream.close()
                except Exception:
                    pass
                state["done"] = True
                out_q.put(None)  # ALWAYS last: the handler's exit sentinel

        worker = threading.Thread(
            target=produce, name=stream_id, daemon=True
        )
        worker.start()
        self.send_response(200)
        self.send_header("Content-Type", "application/x-ndjson")
        self.send_header("X-Stream-Id", stream_id)
        self.end_headers()  # no Content-Length: close-delimited stream
        try:
            while True:
                item = out_q.get()
                if item is None:
                    return
                if isinstance(item, Exception):
                    raise item
                self.wfile.write(item)
                self.wfile.flush()
        except (BrokenPipeError, ConnectionResetError, OSError):
            state["cancelled"] = True
            stop.set()
            sc.cancelJobGroup(stream_id)
        finally:
            if stop.is_set():
                # release a worker blocked on the bounded put, then wait
                # for its finally-block so the group is fully drained
                while True:
                    try:
                        if out_q.get(timeout=30) is None:
                            break
                    except _queue.Empty:
                        break
                worker.join(timeout=30)


def serve(
    spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build a server bound to (host, port); caller runs serve_forever()."""
    # Warm the builtin-function allow-list base BEFORE any request can:
    # listFunctions() also returns session-registered UDFs (builtins report
    # isTemporary=True too, so the flag can't filter them), so snapshotting
    # lazily on the first /api/sql call would permanently allow-list any
    # UDF registered earlier on the shared session (round-10 ADVICE).
    # Warming at serve() time narrows that to UDFs registered before the
    # server exists — the operator owns that window, not remote callers.
    _builtin_functions(spark)
    handler = type(
        "BoundHieroHandler", (HieroHandler,), {"spark": spark, "sf_dir": sf_dir}
    )
    return ThreadingHTTPServer((host, port), handler)


def main():  # pragma: no cover - interactive entry point
    import argparse

    from hiero_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8008)
    args = ap.parse_args()
    srv = serve(get_spark(), args.sf_dir, args.host, args.port)
    print(f"hiero_spark API on http://{args.host}:{srv.server_address[1]}")
    srv.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
