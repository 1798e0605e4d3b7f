"""HTTP JSON facade (hiero_spark/server.py) — drive every endpoint through
a real socket, the way the reference's web UI drives its root node."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from hiero_spark.server import serve
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def api(spark):
    srv = serve(spark, SF_SMOKE)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base
    srv.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=120) as r:
        return r.status, json.loads(r.read())


def _persisted_ids(spark):
    """Ids of the session's persisted RDDs.  Compared as sets, not
    counts: the JVM's ContextCleaner may unpersist an unreferenced
    earlier RDD mid-request, which shrinks the count without saying
    anything about what the request itself left behind."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in rdds.keySet()}


def test_tables_catalog(api):
    status, body = _get(api, "/api/tables")
    assert status == 200
    names = {t["name"] for t in body}
    assert {"lineitem", "orders", "documents", "embeddings"} <= names
    li = next(t for t in body if t["name"] == "lineitem")
    cols = {c["name"]: c["type"] for c in li["columns"]}
    assert cols["l_quantity"].startswith("decimal") or cols["l_quantity"] in (
        "double",
        "bigint",
    )


def test_queries_listing_matches_registry(api):
    from hiero_spark.registry import all_queries

    status, body = _get(api, "/api/queries")
    assert status == 200
    assert {q["name"] for q in body} == set(all_queries())
    assert all("group" in q and "has_oracle" in q for q in body)


def test_run_registered_query(api, spark):
    status, body = _get(api, "/api/query/a8_heavy_hitters?limit=10")
    assert status == 200
    assert body["query"] == "a8_heavy_hitters"
    assert 0 < len(body["rows"]) <= 10
    # same result as calling the registry directly
    from hiero_spark.registry import all_queries

    direct = all_queries()["a8_heavy_hitters"].fn(spark, SF_SMOKE)
    assert len(body["rows"]) == direct.limit(10).count()


@pytest.mark.parametrize(
    "name", ["n1_incremental_near_dups", "n5_curation_pipeline2"]
)
def test_query_request_releases_its_persists(api, spark, name):
    """A query whose operators persist internally leaves no cached frame
    behind once the response is sent: those persists are tracked, and
    the server releases the tracked frames per request."""
    before = _persisted_ids(spark)
    status, body = _get(api, f"/api/query/{name}?limit=5")
    assert status == 200 and body["rows"]
    assert _persisted_ids(spark) - before == set()


def test_unknown_query_404(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/query/nope")
    assert e.value.code == 404


def test_sql_endpoint(api):
    status, body = _get(
        api,
        "/api/sql?q="
        + urllib.request.quote(
            "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1"
        ),
    )
    assert status == 200
    assert body["columns"] == ["o_orderstatus", "n"]
    assert sum(r["n"] for r in body["rows"]) > 0


def test_sql_rejects_non_select(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/sql?q=" + urllib.request.quote("DROP TABLE orders"))
    assert e.value.code == 400


@pytest.mark.parametrize(
    "stmt",
    [
        # CTE-prefixed DML: passes a prefix check, must not pass the guard
        "WITH t AS (SELECT 1) INSERT OVERWRITE TABLE orders SELECT * FROM t",
        "WITH t AS (SELECT 1) DELETE FROM orders",
        "WITH t AS (SELECT 1) UPDATE orders SET o_custkey = 0",
        # path-based table read through a plain SELECT
        "SELECT * FROM text.`/etc/passwd`",
        # ...and hidden inside a scalar subquery
        "SELECT (SELECT count(*) FROM text.`/etc/hosts`) AS c",
        # catalog-qualified escape from the registered views
        "SELECT * FROM spark_catalog.default.anything",
        # JVM reflection functions
        "SELECT reflect('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT java_method('java.lang.System', 'lineSeparator')",
        # unregistered relation
        "SELECT * FROM not_a_view",
    ],
)
def test_sql_guard_rejects_unsafe_statements(api, stmt):
    """Round-8 ADVICE (medium): the SELECT/WITH prefix check alone allowed
    CTE-prefixed DML and path-based file reads."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/sql?q=" + urllib.request.quote(stmt))
    assert e.value.code == 400


def test_sql_guard_allows_ctes_subqueries_and_joins(api):
    stmt = """
        WITH big AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
        SELECT c.c_name, b.n,
               (SELECT COUNT(*) FROM lineitem) AS total_items
        FROM big b JOIN customer c ON c.c_custkey = b.o_custkey
        ORDER BY b.n DESC, c.c_name LIMIT 5
    """
    status, body = _get(api, "/api/sql?q=" + urllib.request.quote(stmt))
    assert status == 200
    assert body["columns"] == ["c_name", "n", "total_items"]
    assert len(body["rows"]) == 5


def test_page_scroll_resumes(api):
    status, p1 = _get(api, "/api/page/orders?order=o_orderkey&k=5")
    assert status == 200 and len(p1["rows"]) == 5
    after = urllib.request.quote(json.dumps(p1["next_after"]))
    status, p2 = _get(api, f"/api/page/orders?order=o_orderkey&k=5&after={after}")
    # NextK is inclusive of the start row: page2 begins where page1 ended
    assert p2["rows"][0]["o_orderkey"] == p1["rows"][-1]["o_orderkey"]
    k1 = [r["o_orderkey"] for r in p1["rows"]]
    k2 = [r["o_orderkey"] for r in p2["rows"]]
    assert k1 == sorted(k1) and k2 == sorted(k2) and k2[0] == k1[-1]


def test_sketch_histogram_numeric_and_vega(api):
    status, body = _get(
        api, "/api/sketch/histogram?table=lineitem&col=l_quantity&buckets=10&spec=1"
    )
    assert status == 200
    assert 0 < len(body["rows"]) <= 10
    assert body["vega"]["mark"] == "bar"


def test_sketch_histogram_categorical(api):
    status, body = _get(
        api, "/api/sketch/histogram?table=orders&col=o_orderstatus&buckets=5"
    )
    assert status == 200
    assert {r["o_orderstatus"] for r in body["rows"]} <= {"F", "O", "P"}


def test_sketch_cdf_monotone(api):
    status, body = _get(api, "/api/sketch/cdf?table=lineitem&col=l_quantity&buckets=20")
    cum = [r["cum_count"] for r in body["rows"]]
    assert cum == sorted(cum) and cum[-1] > 0


def test_sketch_quantiles_and_colstats(api):
    status, body = _get(
        api, "/api/sketch/quantiles?table=lineitem&col=l_extendedprice&probs=0.25,0.5,0.75"
    )
    assert status == 200 and len(body["rows"]) == 1
    status, body = _get(api, "/api/sketch/colstats?table=lineitem&col=l_quantity")
    assert body["rows"][0]["missing_count"] == 0


def test_progressive_histogram_stream(api, spark):
    """PartialResult contract: fractions increase, final line is the exact
    full histogram."""
    url = (
        api
        + "/api/progressive/histogram?table=lineitem&col=l_quantity"
        + "&buckets=8&tiers=3&key=l_orderkey"
    )
    with urllib.request.urlopen(url, timeout=300) as r:
        lines = [json.loads(line) for line in r.read().splitlines() if line.strip()]
    fracs = [ln["fraction"] for ln in lines]
    assert len(lines) == 3 and fracs == sorted(fracs) and fracs[-1] == 1.0
    # refinement: total counted rows grow toward the exact total
    totals = [sum(row["bucket_count"] for row in ln["rows"]) for ln in lines]
    assert totals == sorted(totals)
    from hiero_spark import catalog

    exact = catalog.load_table(spark, SF_SMOKE, "lineitem").count()
    assert totals[-1] == exact


def test_progressive_heatmap_stream(api, spark):
    """A6 tier stream: fractions increase, cell totals refine monotonically,
    final line equals the exact full heatmap."""
    url = (
        api
        + "/api/progressive/heatmap?table=lineitem&xcol=l_quantity"
        + "&ycol=l_discount&xbuckets=4&ybuckets=4&tiers=3&key=l_orderkey"
    )
    with urllib.request.urlopen(url, timeout=300) as r:
        lines = [json.loads(line) for line in r.read().splitlines() if line.strip()]
    fracs = [ln["fraction"] for ln in lines]
    assert len(lines) == 3 and fracs == sorted(fracs) and fracs[-1] == 1.0
    totals = [sum(row["cell_count"] for row in ln["rows"]) for ln in lines]
    assert totals == sorted(totals)
    from hiero_spark import catalog
    from hiero_spark.operators import sketches

    df = catalog.load_table(spark, SF_SMOKE, "lineitem")
    xr = sketches.data_range(df, "l_quantity").collect()[0]
    yr = sketches.data_range(df, "l_discount").collect()[0]
    exact = sketches.heatmap(
        df,
        "l_quantity", float(xr["min_val"]), float(xr["max_val"]), 4,
        "l_discount", float(yr["min_val"]), float(yr["max_val"]), 4,
    ).orderBy("bucket_x", "bucket_y")
    got = [(r["bucket_x"], r["bucket_y"], r["cell_count"]) for r in lines[-1]["rows"]]
    want = [(r["bucket_x"], r["bucket_y"], r["cell_count"]) for r in exact.collect()]
    assert got == want


def test_progressive_heavy_hitters_stream(api, spark):
    """A8 tier stream: fractions increase, every tier ships <= k rows,
    final line is the exact full top-k."""
    url = (
        api
        + "/api/progressive/heavy_hitters?table=orders&cols=o_orderstatus"
        + "&k=3&tiers=3&key=o_orderkey"
    )
    with urllib.request.urlopen(url, timeout=300) as r:
        lines = [json.loads(line) for line in r.read().splitlines() if line.strip()]
    fracs = [ln["fraction"] for ln in lines]
    assert len(lines) == 3 and fracs == sorted(fracs) and fracs[-1] == 1.0
    assert all(len(ln["rows"]) <= 3 for ln in lines)
    from hiero_spark import catalog
    from hiero_spark.operators import sketches

    exact = sketches.heavy_hitters(
        catalog.load_table(spark, SF_SMOKE, "orders"), ["o_orderstatus"], 3
    )
    got = [(r["o_orderstatus"], r["cnt"]) for r in lines[-1]["rows"]]
    want = [(r["o_orderstatus"], r["cnt"]) for r in exact.collect()]
    assert got == want


def test_progressive_merge_mode_final_equals_prefix_exact(api):
    """mode=merge sketches each slice once and merges the monoid partials;
    its LAST line must equal the prefix mode's exact full answer for all
    three sketch kinds (top-k is not a monoid, so heavy_hitters merges
    full per-slice counts before the cut — the case that would break if
    partials were cut early)."""
    for path in (
        "/api/progressive/histogram?table=lineitem&col=l_quantity"
        "&buckets=8&tiers=3&key=l_orderkey",
        "/api/progressive/heatmap?table=lineitem&xcol=l_quantity"
        "&ycol=l_discount&xbuckets=4&ybuckets=4&tiers=3&key=l_orderkey",
        "/api/progressive/cdf?table=lineitem&col=l_quantity"
        "&buckets=8&tiers=3&key=l_orderkey",
        "/api/progressive/heavy_hitters?table=orders&cols=o_orderstatus"
        "&k=3&tiers=3&key=o_orderkey",
    ):
        finals = {}
        for mode in ("prefix", "merge"):
            with urllib.request.urlopen(api + path + f"&mode={mode}",
                                        timeout=300) as r:
                lines = [json.loads(x) for x in r.read().splitlines()
                         if x.strip()]
            assert [ln["fraction"] for ln in lines][-1] == 1.0
            finals[mode] = lines[-1]["rows"]
        assert finals["merge"] == finals["prefix"], path


def test_progressive_merge_releases_its_persists(api, spark):
    """A drained merge-mode stream unpersists the per-tier partials it
    cached, so a long-lived server does not accumulate them."""
    before = _persisted_ids(spark)
    url = (
        api
        + "/api/progressive/histogram?table=lineitem&col=l_quantity"
        + "&buckets=8&tiers=3&key=l_orderkey&mode=merge"
    )
    with urllib.request.urlopen(url, timeout=300) as r:
        lines = [json.loads(x) for x in r.read().splitlines() if x.strip()]
    assert [ln["fraction"] for ln in lines][-1] == 1.0
    assert _persisted_ids(spark) - before == set()


def test_progressive_bad_mode_400(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/progressive/histogram?table=orders&col=o_totalprice&mode=nope")
    assert e.value.code == 400


def test_progressive_unknown_kind_404(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/progressive/nope?table=orders")
    assert e.value.code == 404


def test_progressive_quantiles_prefix_only(api, spark):
    url = (
        api
        + "/api/progressive/quantiles?table=lineitem&col=l_extendedprice"
        + "&probs=0.25,0.5,0.75&tiers=3&key=l_orderkey"
    )
    with urllib.request.urlopen(url, timeout=300) as r:
        lines = [json.loads(x) for x in r.read().splitlines() if x.strip()]
    fracs = [ln["fraction"] for ln in lines]
    assert len(lines) == 3 and fracs[-1] == 1.0
    from hiero_spark import catalog
    from hiero_spark.operators import sketches

    exact = sketches.quantiles(
        catalog.load_table(spark, SF_SMOKE, "lineitem"),
        "l_extendedprice", [0.25, 0.5, 0.75], exact=True,
    ).collect()[0].asDict()
    got = lines[-1]["rows"][0]
    assert all(float(got[k]) == float(v) for k, v in exact.items())
    # merge mode is an explicit 400, not a silent wrong answer
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/progressive/quantiles?table=lineitem"
             "&col=l_extendedprice&mode=merge")
    assert e.value.code == 400


def test_stream_observability_fraction_done(api):
    """Round-10 verdict #7 — hiero's fraction-done meter: every tier line
    carries a monotone `fraction` ending at 1.0, and the stream's
    observability record (GET /api/streams/<id>) tracks the same number
    server-side so a UI can poll progress without consuming the NDJSON
    body itself."""
    url = (
        api
        + "/api/progressive/cdf?table=lineitem&col=l_quantity"
        + "&buckets=8&tiers=4&key=l_orderkey"
    )
    with urllib.request.urlopen(url, timeout=300) as r:
        sid = r.headers["X-Stream-Id"]
        lines = [json.loads(line) for line in r.read().splitlines() if line.strip()]
    fracs = [ln["fraction"] for ln in lines]
    assert fracs == sorted(fracs) and fracs[-1] == 1.0 and len(set(fracs)) == len(fracs)
    status, st = _get(api, f"/api/streams/{sid}")
    assert status == 200
    assert st["fraction_done"] == 1.0 and st["done"] and not st["cancelled"]
    assert st["tiers_done"] == len(lines) == 4
    # the listing form includes the same record
    status, listing = _get(api, "/api/streams")
    assert status == 200
    assert any(s["stream_id"] == sid for s in listing)
    # unknown stream id -> 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/streams/nope")
    assert e.value.code == 404


@pytest.mark.parametrize("mode", ["prefix", "merge"])
def test_progressive_disconnect_cancels_job_group(api, spark, mode,
                                                  monkeypatch):
    """The unsubscribe half of the PartialResult contract: dropping the
    socket mid-stream must stop the tier worker and cancel its Spark job
    group (no orphaned tiers computing for a reader that is gone), and a
    cancelled merge-mode stream must still release the partials it
    persisted."""
    import socket
    import time as _time
    from urllib.parse import urlparse

    from hiero_spark import progressive
    from hiero_spark import server as srv_mod

    # Hold every merge generator, so only the server closing it releases
    # its partials -- not CPython collecting it when the handler returns.
    held = []
    real_merge = progressive.progressive_merge

    def holding_merge(*args, **kwargs):
        held.append(real_merge(*args, **kwargs))
        return held[-1]

    monkeypatch.setattr(progressive, "progressive_merge", holding_merge)
    before = set(srv_mod._STREAMS)
    persisted = _persisted_ids(spark)
    u = urlparse(api)
    tiers = 16
    path = (
        "/api/progressive/histogram?table=lineitem&col=l_quantity"
        f"&buckets=8&tiers={tiers}&key=l_orderkey&mode={mode}"
    )
    s = socket.create_connection((u.hostname, u.port), timeout=120)
    try:
        s.sendall(
            f"GET {path} HTTP/1.1\r\nHost: {u.netloc}\r\n\r\n".encode()
        )
        # read until the first NDJSON tier line has arrived
        buf = b""
        while buf.count(b"\n") < 8 or b"fraction" not in buf:
            chunk = s.recv(4096)
            if not chunk:
                raise AssertionError(f"stream closed early: {buf[:400]!r}")
            buf += chunk
    finally:
        # hard drop: RST (SO_LINGER 0) so the server's next write fails
        s.setsockopt(
            socket.SOL_SOCKET, socket.SO_LINGER,
            __import__("struct").pack("ii", 1, 0),
        )
        s.close()
    sid = next(iter(set(srv_mod._STREAMS) - before))
    state = srv_mod._STREAMS[sid]
    deadline = _time.time() + 60
    while _time.time() < deadline and not state["done"]:
        _time.sleep(0.1)
    assert state["cancelled"], state
    assert state["done"], state
    assert len(held) == (mode == "merge")
    assert _persisted_ids(spark) - persisted == set()
    # early stop: nowhere near all 16 tiers were computed for a dead reader
    assert state["tiers_done"] < tiers, state
    # the fraction-done meter froze below 1.0 where the cancel landed
    assert state["fraction_done"] < 1.0, state
    # and the Spark side agrees: every job in the group has terminated
    st = spark.sparkContext.statusTracker()
    for jid in st.getJobIdsForGroup(sid):
        info = st.getJobInfo(jid)
        assert info is None or info.status != "RUNNING", (jid, info)


@pytest.mark.parametrize(
    "stmt",
    [
        # TVF nodes were previously not checked at all (round-9 ADVICE):
        # any non-allow-listed table-valued function must fail closed
        "SELECT * FROM json.`/etc/passwd`",
        "SELECT * FROM sql_keywords()",
        "SELECT * FROM variant_explode(parse_json('[1]'))",
        # session UDFs / catalog-qualified function names are not builtins
        "SELECT spark_catalog.default.evil(1)",
    ],
)
def test_sql_guard_rejects_tvfs_and_non_builtins(api, stmt):
    """Round-9 ADVICE (low): relations AND functions are allow-listed —
    UnresolvedTableValuedFunction is checked, and any function outside
    Spark's builtin registry (or inside the deny set) is rejected."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(api, "/api/sql?q=" + urllib.request.quote(stmt))
    assert e.value.code == 400


def test_sql_guard_allows_builtins_and_safe_tvfs(api):
    """The allow-list must not over-reject: ordinary builtins (aggregates,
    window functions, string/date functions) and the exploding TVFs all
    pass."""
    stmt = """
        SELECT o_orderpriority,
               count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC) AS rk,
               substr(max(o_orderdate), 1, 4) AS yr
        FROM orders GROUP BY o_orderpriority ORDER BY n DESC LIMIT 3
    """
    status, body = _get(api, "/api/sql?q=" + urllib.request.quote(stmt))
    assert status == 200 and len(body["rows"]) == 3
    status2, body2 = _get(
        api,
        "/api/sql?q=" + urllib.request.quote(
            "SELECT x.id FROM range(3) AS x ORDER BY x.id"
        ),
    )
    assert status2 == 200 and [r["id"] for r in body2["rows"]] == [0, 1, 2]
