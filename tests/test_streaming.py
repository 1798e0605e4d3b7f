"""Structured Streaming smoke tests: the streaming pipelines must produce
the same aggregates as their batch twins (which are DuckDB-oracle-checked),
plus watermark/late-data and stateful-dedup behavior."""

import pytest
from pyspark.sql import functions as F

from hiero_spark.streaming import pipelines as pl


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return pl.read_events_stream(spark, sf_dir)


def _batch_events(spark, sf_dir):
    from hiero_spark.catalog import load_table

    return load_table(spark, sf_dir, "events")


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream):
    pl.run_to_memory(pl.tumbling_counts(events_stream), "t_tumbling")
    got = {
        (r["window_start"], r["event_type"]): r["event_count"]
        for r in spark.table("t_tumbling").collect()
    }
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("ws"), "event_type", "c")
    )
    expected = {(r["ws"], r["event_type"]): r["c"] for r in batch.collect()}
    assert got == expected


def test_session_stream_matches_batch(spark, sf_dir, events_stream):
    pl.run_to_memory(pl.session_counts(events_stream), "t_session")
    got = spark.table("t_session")
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("event_count"))
    )
    assert got.count() == batch.count()
    assert got.agg(F.sum("event_count")).collect()[0][0] == _batch_events(
        spark, sf_dir
    ).count()


def test_stream_dedup_no_duplicates(spark, sf_dir, events_stream):
    pl.run_to_memory(
        pl.dedup_stream(events_stream), "t_dedup", output_mode="append"
    )
    out = spark.table("t_dedup")
    n = out.count()
    assert n == out.select("event_id").distinct().count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """A restart delivers an event older than the watermark horizon behind
    the max seen ts -> it must NOT reopen a finalized window.

    Deterministic by construction: two availableNow runs share a checkpoint.
    Run 1 sees only batch 1 and persists watermark=14:00; run 2 then sees
    the late file with that watermark already restored. (A single-run
    variant with maxFilesPerTrigger=1 depends on FileStreamSource's
    file-mtime ordering and is flaky.)
    """
    import datetime as dt

    d = tmp_path / "late_events"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "id long, ts timestamp"

    out_dir = str(tmp_path / "out")

    def run():
        # memory sink can't recover from a checkpoint; the file sink can
        stream = spark.readStream.schema(schema).parquet(str(d) + "/*")
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("w.start").alias("ws"), "c")
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")  # append emits only finalized windows
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch1 = [(1, base.replace(hour=12)), (2, base.replace(hour=15))]
    spark.createDataFrame(batch1, schema).write.parquet(str(d / "b1.parquet"))
    run()  # watermark ends at 15:00 - 1h = 14:00

    batch2 = [(3, base.replace(hour=12, minute=30))]  # 2.5h behind watermark
    spark.createDataFrame(batch2, schema).write.parquet(str(d / "b2.parquet"))
    run()

    rows = [(r["ws"], r["c"]) for r in spark.read.parquet(out_dir).collect()]
    # the 12:00 window was finalized with exactly 1 event; the late event
    # (12:30, arriving after watermark passed 14:00) must not reopen it
    twelve = [c for ws, c in rows if ws.hour == 12]
    assert twelve in ([1], [])  # never 2, never emitted twice


def test_stateful_user_stats_matches_batch(spark, sf_dir, events_stream):
    """Custom applyInPandasWithState operator: final per-user state must equal
    the batch groupBy twin (update mode -> keep the last row per user)."""
    pl.run_to_memory(
        pl.user_running_stats(events_stream), "t_user_state", output_mode="update"
    )
    from pyspark.sql.window import Window

    out = spark.table("t_user_state")
    # update mode emits one row per user per micro-batch; the last one wins
    latest = (
        out.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("event_count"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    got = {
        r["user_id"]: (r["event_count"], r["first_ms"], r["last_ms"])
        for r in latest.collect()
    }
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            (F.unix_millis(F.min("ts"))).alias("first_ms"),
            (F.unix_millis(F.max("ts"))).alias("last_ms"),
        )
    )
    expected = {
        r["user_id"]: (r["c"], r["first_ms"], r["last_ms"]) for r in batch.collect()
    }
    assert got == expected


def test_stream_stream_attribution_matches_batch(spark, sf_dir, events_stream):
    """Stream-stream interval join: the streaming (view, click) pair set
    must equal the batch twin's (append mode; both sides watermarked)."""
    views = events_stream.filter(F.col("event_type") == "view")
    clicks = events_stream.filter(F.col("event_type") == "click")
    pl.run_to_memory(
        pl.attribution_join(views, clicks), "t_attr", output_mode="append"
    )
    got = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in spark.table("t_attr").collect()
    }
    ev = _batch_events(spark, sf_dir)
    expected = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in pl.attribution_join(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "click"),
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """X11: the batch-id-keyed sink delivers every input row exactly once
    across restarts, and a REPLAYED micro-batch (crash between sink write
    and checkpoint commit) overwrites its own partition instead of
    appending duplicates."""
    from hiero_spark.streaming.pipelines import (
        batch_id_writer, idempotent_parquet_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string"

    spark.createDataFrame(
        [(1, "a"), (2, "b")], schema
    ).write.parquet(str(src / "f1.parquet"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    idempotent_parquet_sink(stream, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # restart with one more file: only the new rows land, old preserved
    spark.createDataFrame([(3, "c")], schema).write.parquet(
        str(src / "f2.parquet")
    )
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    idempotent_parquet_sink(stream, out, ckpt)
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]

    # simulate the replay: the engine re-invokes the SAME batch after a
    # crash-before-commit; the write must be a byte-level no-op
    batches = {
        r["_batch_id"]
        for r in spark.read.parquet(out).select("_batch_id").distinct().collect()
    }
    last = max(batches)
    replay_df = spark.read.parquet(out).filter(
        F.col("_batch_id") == last
    ).drop("_batch_id")
    batch_id_writer(out)(replay_df, last)
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3], "replayed batch appended duplicates"


def test_admit_stream_dedups_against_static_index(spark, tmp_path):
    """X12 stream-static ingest dedup: stream docs already in the static
    corpus index are rejected; within-stream duplicates admit once; the
    streaming result equals the batch admit_batch twin on the same data."""
    from hiero_spark.functions.incremental import admit_batch, fingerprint_index

    corpus = spark.createDataFrame(
        [(1, "known doc one"), (2, "known doc two")], ["doc_id", "text"]
    )
    idx = fingerprint_index(corpus, "text")
    idx_path = str(tmp_path / "fp_index")
    idx.write.parquet(idx_path)
    static_idx = spark.read.parquet(idx_path)

    batch_rows = [
        (10, "known doc one"),   # in corpus -> rejected
        (11, "fresh doc"),       # admitted
        (12, "fresh doc"),       # within-stream dup -> one admit
        (13, "another fresh"),   # admitted
    ]
    src = tmp_path / "docs_src"
    src.mkdir()
    spark.createDataFrame(batch_rows, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        f"{src}/b*.parquet"
    )
    out = pl.admit_stream(stream, static_idx, "text", "doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("t_admit_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["text"] for r in spark.table("t_admit_stream").collect())
    assert got == ["another fresh", "fresh doc"]

    # batch twin admits the same contents
    batch_df = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    batch_admitted = admit_batch(batch_df, static_idx, "text", "doc_id")
    assert batch_admitted.count() == 2


def test_near_dup_stream_matches_batch_operator(spark, tmp_path):
    """X13: the streaming near-dup probe is the BATCH operator run per
    micro-batch over the saved index — results must equal the offline
    run on the same data."""
    from hiero_spark.functions.incremental import incremental_near_dups, lsh_index

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
        "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega "
        "one two three four five"
    )
    corpus = spark.createDataFrame(
        [(i, f"{base} mark{i}") for i in range(30)], ["doc_id", "text"]
    )
    bidx, bsh = lsh_index(corpus, "text", "doc_id")
    bidx.write.parquet(str(tmp_path / "bkt"))
    bsh.write.parquet(str(tmp_path / "sh"))

    batch_rows = [
        (100, f"{base} mark3"),                      # exact copy
        (101, "totally novel text with nothing shared"),
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(batch_rows, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        f"{src}/b*.parquet"
    )
    q = pl.near_dup_stream_sink(
        stream,
        str(tmp_path / "bkt"),
        str(tmp_path / "sh"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = sorted(
        (r["batch_doc"], r["corpus_doc"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    offline = sorted(
        (r["batch_doc"], r["corpus_doc"])
        for r in incremental_near_dups(
            spark.createDataFrame(batch_rows, ["doc_id", "text"]),
            spark.read.parquet(str(tmp_path / "bkt")),
            spark.read.parquet(str(tmp_path / "sh")),
            "text",
            "doc_id",
        ).collect()
    )
    assert got == offline
    assert (100, 3) in got and all(b != 101 for b, _ in got)


def test_stream_stream_left_outer_emits_non_conversions(spark, sf_dir, events_stream):
    """X14: the left-outer stream-stream join must emit BOTH the matched
    (view, click) pairs of the inner join AND a NULL-click row for every
    view with no in-window click — equal to the batch left-join twin."""
    views = events_stream.filter(F.col("event_type") == "view")
    clicks = events_stream.filter(F.col("event_type") == "click")
    pl.run_to_memory(
        pl.attribution_join_outer(views, clicks), "t_attr_outer",
        output_mode="append",
    )
    got = {
        (r["u"], r["view_id"], r["click_id"])
        for r in spark.table("t_attr_outer").collect()
    }
    ev = _batch_events(spark, sf_dir)
    expected = {
        (r["u"], r["view_id"], r["click_id"])
        for r in pl.attribution_join_outer(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "click"),
        ).collect()
    }
    # Trailing edge: a view's NULL row emits only once the watermark
    # passes view_ts + attribution window, and the final watermark stops
    # at max(event time) - delay — so the newest unmatched views stay
    # open at end-of-input (correct streaming semantics, not data loss).
    # Matched pairs emit regardless; null rows compare on the provably
    # CLOSEABLE views only.
    matched_got = {x for x in got if x[2] is not None}
    matched_exp = {x for x in expected if x[2] is not None}
    assert matched_got == matched_exp and len(matched_got) > 0
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    cutoff_us = max_us - (60 + 30) * 60 * 1_000_000  # watermark + window
    view_ts_us = {
        r["event_id"]: r["us"]
        for r in ev.filter(F.col("event_type") == "view")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    nulls_got = {x for x in got if x[2] is None}
    nulls_exp = {x for x in expected if x[2] is None}
    assert nulls_got <= nulls_exp  # never a false non-conversion
    closed_exp = {x for x in nulls_exp if view_ts_us[x[1]] <= cutoff_us}
    assert closed_exp <= nulls_got and len(nulls_got) > 0


def _restart_runner(spark, src_dir, ckpt, out_dir, mk_query, schema):
    """Two-run availableNow harness sharing one checkpoint (the
    test_watermark_drops_late_rows pattern): each call is a fresh query
    recovering from the checkpoint — a kill/restart boundary."""

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src_dir) + "/*")
        q = (
            mk_query(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    return run


def test_left_outer_join_restart_no_lost_or_duplicated_nulls(spark, tmp_path):
    """Round-7 verdict item 8: X14-outer across a kill/restart. A view
    whose NULL non-conversion emitted before the restart must not emit
    again (no duplicated nulls), a click arriving after the restart
    behind the restored watermark must not contradict it, and views
    closed only by post-restart data must still emit their null exactly
    once (no lost nulls)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def mk(stream):
        return pl.attribution_join_outer(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "click"),
        )

    run = _restart_runner(spark, src, ckpt, out, mk, schema)

    def feed(fname, rows):
        """One file -> one availableNow run -> one micro-batch; every call
        recovers from the shared checkpoint (a kill/restart boundary).
        Watermark advances at batch COMMIT, so state eviction driven by a
        file's timestamps happens in the NEXT call's batch — after a
        restart, which is exactly the seam under test."""
        spark.createDataFrame(rows, schema).write.parquet(str(src / fname))
        run()

    feed("f1.parquet", [
        (1, 1, "view", base),                              # V1: matched
        (2, 1, "click", base + dt.timedelta(minutes=10)),  # C1 in-window
        (3, 2, "view", base),                              # V2: no click ever
    ])
    # clocks advance BOTH sides: the global watermark is the MIN across
    # the two withWatermark operators, so a view-only clock would leave
    # the click side (and the join watermark) pinned at 11:10. Click
    # clocks are silent in a left-outer join (unmatched right rows never
    # emit); view clocks eventually close as nulls.
    feed("f2.parquet", [
        (4, 90, "view", base + dt.timedelta(hours=6)),
        (40, 990, "click", base + dt.timedelta(hours=6)),
    ])  # -> watermark 17:00 at commit
    feed("f3.parquet", [
        (5, 91, "view", base + dt.timedelta(hours=6, minutes=5)),
        (50, 991, "click", base + dt.timedelta(hours=6, minutes=5)),
    ])  # this batch runs with wm 17:00 -> V2 (horizon 12:30) closes: null emits
    nulls_before = {
        r["view_id"]
        for r in spark.read.parquet(out).collect()
        if r["click_id"] is None
    }
    assert 3 in nulls_before, "V2's null must be emitted before the kill"

    # late click for V2 at 12:15 — behind the restored watermark, V2's
    # state already evicted: must never produce a (V2, click) row after
    # V2's null. V3 (17:30) is admitted, still open.
    feed("f4.parquet", [
        (6, 2, "click", base + dt.timedelta(minutes=15)),
        (7, 3, "view", base + dt.timedelta(hours=5, minutes=30)),
    ])
    feed("f5.parquet", [
        (8, 92, "view", base + dt.timedelta(hours=11)),
        (80, 992, "click", base + dt.timedelta(hours=11)),
    ])  # -> wm 22:00 at commit
    feed("f6.parquet", [
        (9, 93, "view", base + dt.timedelta(hours=11, minutes=5)),
        (90, 993, "click", base + dt.timedelta(hours=11, minutes=5)),
    ])  # runs with wm 22:00 -> V3 (18:00) and both first clock views
    #   (18:30, 18:35) close as nulls

    rows = [
        (r["u"], r["view_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
    ]
    by_view = {}
    for u, vid, cid in rows:
        by_view.setdefault(vid, []).append((u, cid))
    assert by_view[1] == [(1, 2)]          # matched pair, exactly once
    assert by_view[3] == [(2, None)]       # null survived the restarts ONCE
    assert by_view[7] == [(3, None)]       # closed post-restart, not lost
    assert by_view[4] == [(90, None)]      # clocks close too, exactly once
    assert by_view[5] == [(91, None)]
    assert 8 not in by_view and 9 not in by_view   # final clocks still open
    assert len(rows) == 5, rows            # nothing else, nothing doubled


def test_distinct_per_window_restart_exact_once(spark, tmp_path):
    """Round-7 verdict item 8: X15 across a kill/restart. A window
    finalized before the restart emits exactly once; a duplicate user
    replayed behind the restored watermark neither re-emits the window
    nor perturbs any count; windows closed only by post-restart data
    emit exactly once with the cross-restart-deduplicated count."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run = _restart_runner(
        spark, src, ckpt, out, pl.distinct_users_stream, schema
    )

    b1 = [
        (1, 1, "view", base),                               # 12:00 window
        (2, 2, "view", base + dt.timedelta(minutes=5)),
        (3, 1, "view", base + dt.timedelta(minutes=20)),    # same-user dup
        (4, 9, "x", base + dt.timedelta(hours=3)),          # clock -> wm 14:00
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()  # watermark -> 14:00 at commit; emission happens post-restart

    b2 = [
        # replayed duplicate behind the restored watermark: dropped, the
        # already-emitted 12:00 window must not re-emit or change
        (5, 1, "view", base + dt.timedelta(minutes=30)),
        (6, 5, "view", base + dt.timedelta(hours=3, minutes=10)),  # 15:00 win
        (7, 5, "view", base + dt.timedelta(hours=3, minutes=40)),  # dup
        (8, 6, "view", base + dt.timedelta(hours=3, minutes=50)),
        (9, 9, "x", base + dt.timedelta(hours=9)),          # clock -> wm 20:00
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()  # closes the 15:00 windows

    got = [
        (r["event_type"], r["bucket_ts"], r["n_distinct"])
        for r in spark.read.parquet(out).collect()
    ]
    noon = int(base.timestamp())
    three = int((base + dt.timedelta(hours=3)).timestamp())
    assert got.count(("view", noon, 2)) == 1       # exactly once, count 2
    assert sum(1 for t, b, _ in got if b == noon) == 1  # never re-emitted
    assert got.count(("view", three, 2)) == 1      # users 5,6 (5 deduped)
    assert got.count(("x", three, 1)) == 1         # clock event's own window
    assert len(got) == 3, got


def test_streaming_distinct_users_matches_batch(spark, sf_dir, events_stream):
    """X15: streaming exact distinct-per-window (watermarked dropDuplicates
    -> additive count) must equal the batch COUNT(DISTINCT) per window."""
    pl.run_to_memory(
        pl.distinct_users_stream(events_stream), "t_uniq", output_mode="append"
    )
    got = {
        (r["event_type"], r["bucket_ts"]): r["n_distinct"]
        for r in spark.table("t_uniq").collect()
    }
    ev = _batch_events(spark, sf_dir)
    batch = (
        ev.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bucket_ts"),
        )
        .agg(F.count_distinct("user_id").alias("n"))
    )
    expected = {
        (r["event_type"], r["bucket_ts"]): r["n"] for r in batch.collect()
    }
    # append mode emits a window only once the watermark closes it: the
    # final (still-open) windows stay unemitted — correct semantics
    assert set(got) <= set(expected)
    assert all(got[k] == expected[k] for k in got)
    closed_fraction = len(got) / len(expected)
    assert closed_fraction > 0.8  # everything but the trailing horizon


def test_streaming_text_index_maintenance_equals_rebuild(spark, tmp_path):
    """X16: two ingest batches fold into the persisted inverted index via
    foreachBatch + update_text_index; after each run the BM25 probe and
    the phrase probe over the maintained index must equal a from-scratch
    rebuild over everything ingested so far (restart in between: the
    second run recovers from the checkpoint)."""
    from hiero_spark.functions.bm25 import (
        bm25_topk_indexed, phrase_count_indexed, save_text_index,
    )

    src = tmp_path / "docs"
    src.mkdir()
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = pl.text_index_stream_sink(stream, idx, ckpt, n_buckets=8)
        q.awaitTermination(120)

    def probes(path):
        top = sorted(
            tuple(r)
            for r in bm25_topk_indexed(
                spark, path, ["spark", "join"], k=10, n_buckets=8
            ).collect()
        )
        ph = sorted(
            tuple(r)
            for r in phrase_count_indexed(
                spark, path, ["spark", "join"], n_buckets=8
            ).collect()
        )
        return top, ph

    b1 = [
        (1, "spark join window"),
        (2, "join join stream"),
        (3, "unrelated words here"),
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()
    rebuild1 = str(tmp_path / "rb1")
    save_text_index(spark.createDataFrame(b1, schema), rebuild1, n_buckets=8)
    assert probes(idx) == probes(rebuild1)

    b2 = [
        (4, "spark spark join"),     # shifts df/idf for both terms
        (5, "window stream spark join"),
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()  # restart from checkpoint; only batch 2 is processed
    rebuild2 = str(tmp_path / "rb2")
    save_text_index(
        spark.createDataFrame(b1 + b2, schema), rebuild2, n_buckets=8
    )
    got, expected = probes(idx), probes(rebuild2)
    assert got == expected
    assert len(got[0]) == 4 and len(got[1]) >= 1  # ranking actually moved


def test_streaming_ohlc_matches_batch(spark, sf_dir, events_stream):
    """X17: streaming candlesticks (min_by/max_by as mergeable windowed
    aggregates) must equal the batch OHLC per closed window, exactly —
    long cents, no tolerance."""
    pl.run_to_memory(pl.ohlc_stream(events_stream), "t_ohlc", output_mode="append")
    got = {
        (r["event_type"], r["bucket_ts"]): (
            r["n_events"], r["open_cents"], r["high_cents"],
            r["low_cents"], r["close_cents"], r["volume_cents"],
        )
        for r in spark.table("t_ohlc").collect()
    }
    ev = _batch_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    batch = (
        ev.select(
            "event_type", "ts", "event_id", cents.alias("cents")
        )
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min_by("cents", "event_id").alias("o"),
            F.max("cents").alias("h"),
            F.min("cents").alias("l"),
            F.max_by("cents", "event_id").alias("c"),
            F.sum("cents").alias("v"),
        )
    )
    expected = {
        (r["event_type"], r["bucket_ts"]): (r["n"], r["o"], r["h"], r["l"], r["c"], r["v"])
        for r in batch.collect()
    }
    assert set(got) <= set(expected)      # append emits only closed windows
    assert all(got[k] == expected[k] for k in got)
    assert len(got) / len(expected) > 0.8


def test_join_view_stream_matches_recompute(spark, tmp_path):
    """X18: after every micro-batch the accumulated view equals a
    from-scratch join of everything ingested so far (fold == recompute
    through the bilinear delta rule), including cross-batch matches in
    BOTH directions and the within-batch cross term."""
    b0 = [(1, "a", "a0"), (2, "a", "a1"), (1, "b", "b0")]          # 1 matches
    b1 = [(2, "b", "b1"), (3, "b", "b2"), (1, "a", "a2"),          # 2 closes,
          (4, "a", "a3"), (4, "b", "b3")]                          # 4 in-batch
    src = tmp_path / "cdc_src"
    src.mkdir()
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ckpt")
    schema = "key long, side string, val string"

    def run_one(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )
        stream = spark.readStream.schema(schema).parquet(f"{src}/b*.parquet")
        q = pl.join_view_stream_sink(stream, state, ck)
        q.awaitTermination(120)

    def recompute(all_rows):
        df = spark.createDataFrame(all_rows, schema)
        a = df.filter("side = 'a'").selectExpr("key", "val AS a_val")
        b = df.filter("side = 'b'").selectExpr("key", "val AS b_val")
        return sorted(map(tuple, a.join(b, "key").collect()))

    run_one(b0, "b0.parquet")
    view = spark.read.parquet(f"{state}/view")
    assert sorted(map(tuple, view.collect())) == recompute(b0)

    run_one(b1, "b1.parquet")
    view = spark.read.parquet(f"{state}/view")
    got = sorted(map(tuple, view.collect()))
    assert got == recompute(b0 + b1)
    # the key-4 pair was born INSIDE batch 1 (cross term lands once)
    assert sum(1 for r in got if r[0] == 4) == 1


def test_quality_monitor_stream_matches_batch(spark, sf_dir):
    """X19: streaming gate-rate monitor — closed windows must equal the
    registered batch twin (x19_quality_monitor) exactly; append emits
    each window once."""
    from hiero_spark.registry import all_queries

    docs_static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # FileStreamSource needs a directory/glob (read_events_stream note)
    stream = pl.with_synthetic_ingest_ts(
        spark.readStream.schema(docs_static.schema).parquet(
            f"{sf_dir}/documents*.parquet"
        )
    )
    pl.run_to_memory(
        pl.quality_monitor_stream(stream), "t_qmon", output_mode="append"
    )
    got = {
        r["bucket_ts"]: (
            r["n_docs"], r["n_quality"], r["n_symbol"], r["n_dupline"],
            r["n_prose"], r["n_pass_all"], r["pass_rate"], r["alert"],
        )
        for r in spark.table("t_qmon").collect()
    }
    expected = {
        r["bucket_ts"]: (
            r["n_docs"], r["n_quality"], r["n_symbol"], r["n_dupline"],
            r["n_prose"], r["n_pass_all"], r["pass_rate"], r["alert"],
        )
        for r in all_queries()["x19_quality_monitor"].fn(
            spark, sf_dir
        ).collect()
    }
    assert set(got) <= set(expected)       # append emits only closed windows
    assert all(got[k] == expected[k] for k in got)
    # a single availableNow batch can hold back at most the open tail
    # window plus the 2-minute watermark horizon (2 windows)
    assert len(got) >= len(expected) - 3
    assert len(got) >= 1


def test_quality_monitor_restart_exact_once(spark, tmp_path):
    """X19 across a kill/restart: a gate-rate window finalized before the
    restart emits exactly once; a late doc replayed behind the restored
    watermark neither re-emits the window nor perturbs its counts; a
    window closed only by post-restart data emits exactly once with
    counts spanning the restart."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "doc_id long, text string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run = _restart_runner(spark, src, ckpt, out, pl.quality_monitor_stream, schema)

    prose = "the cat sat on the mat and it is a fine day for all of us " * 8
    b1 = [
        (1, prose, base + dt.timedelta(seconds=10)),        # 12:00 window
        (2, "@@@@ ####", base + dt.timedelta(seconds=20)),  # fails gates
        (3, "clock", base + dt.timedelta(minutes=10)),      # wm -> 12:08
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()  # 12:00 window closes; emission lands by end of run 2

    b2 = [
        # late doc behind the restored 12:08 watermark: dropped; the
        # already-finalized 12:00 window must not re-emit or change
        (4, prose, base + dt.timedelta(seconds=40)),
        (5, prose, base + dt.timedelta(minutes=10, seconds=30)),  # 12:10 win
        (6, "clock", base + dt.timedelta(minutes=30)),      # wm -> 12:28
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()  # closes the 12:10 window (docs 3 and 5, one per side of restart)

    row = lambda r: (  # noqa: E731
        r["bucket_ts"], r["n_docs"], r["n_quality"], r["n_symbol"],
        r["n_dupline"], r["n_prose"], r["n_pass_all"], r["pass_rate"],
        r["alert"],
    )
    got = sorted(row(r) for r in spark.read.parquet(out).collect())
    # expected counts come from the SAME code path run in batch mode over
    # exactly the docs streaming must have attributed to each window
    def batch_window(rows):
        df = spark.createDataFrame(rows, schema)
        return [row(r) for r in pl.quality_monitor_stream(df).collect()]

    expected = sorted(batch_window(b1[:2]) + batch_window([b1[2], b2[1]]))
    assert got == expected, (got, expected)
    assert len(got) == 2  # 12:00 once, 12:10 once; 12:30 still open


def test_wap_stream_sink_publish_quarantine_replay(spark, tmp_path):
    """X20: streaming WAP ingest. A clean batch publishes a version
    carrying its batch_id; a violating batch quarantines without readers
    ever seeing a row; replays are exactly-once through the versioned
    table's own metadata (completed publish -> no-op; stale staged
    commit -> aborted and re-staged)."""
    from hiero_spark.functions.checks import Checks
    from hiero_spark.sources import versioned as V

    schema = "doc_id long, val long"
    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "table")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    checks = Checks().not_null("val").in_range("val", 0, 100)

    def run():
        q = pl.wap_stream_sink(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            table, checks, ckpt, quar,
        )
        q.awaitTermination(120)

    b1 = [(1, 10), (2, 20)]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()
    assert V.list_versions(table) == [0]
    assert V.manifest_notes(table)[0] == {"batch_id": 0}
    assert V.read_version(spark, table).count() == 2

    b2 = [(3, 30), (4, 999)]  # 999 violates in_range
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()
    assert V.list_versions(table) == [0]  # nothing published
    assert V.read_version(spark, table).count() == 2  # readers unaffected
    quarantined = sorted(
        (r["doc_id"], r["val"])
        for r in spark.read.parquet(f"{quar}/batch=1").collect()
    )
    assert quarantined == sorted(b2)

    b3 = [(5, 50)]
    spark.createDataFrame(b3, schema).write.parquet(str(src / "b3.parquet"))
    run()
    assert V.list_versions(table) == [0, 1]
    assert V.manifest_notes(table)[1] == {"batch_id": 2}
    assert V.read_version(spark, table).count() == 3

    # replay of a COMPLETED publish (crash before checkpoint commit):
    # the fold sees batch_id 0 already in a manifest note and no-ops
    fold = pl.make_wap_fold(table, checks, quar)
    fold(spark.createDataFrame(b1, schema), 0)
    assert V.list_versions(table) == [0, 1]
    assert V.read_version(spark, table).count() == 3

    # crash BETWEEN stage and publish: a stale staged.json is aborted
    # (its files were never visible) and the replayed batch re-stages
    V.commit_staged(
        spark.createDataFrame([(9, 90)], schema), table, note={"batch_id": 7}
    )
    fold(spark.createDataFrame([(9, 90)], schema), 7)
    assert V.list_versions(table) == [0, 1, 2]
    assert V.manifest_notes(table)[2] == {"batch_id": 7}
    assert V.read_version(spark, table).count() == 4


def test_anomaly_stream_sink_fold_equals_recompute(spark, tmp_path):
    """X21: after ANY batch, the maintained alert set must equal the
    batch operator (hourly_count_anomalies) over everything ingested so
    far — the agg_state fold==recompute contract lifted to the alerting
    pipeline. A spike split ACROSS the restart must still alert from the
    summed count."""
    import datetime as dt

    from hiero_spark.operators.anomaly import hourly_count_anomalies

    base = dt.datetime(2024, 1, 1)
    schema = "event_id long, event_type string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = pl.anomaly_stream_sink(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            state, alerts, ckpt, z_threshold=3.0, trailing=24,
        )
        q.awaitTermination(120)

    def alert_rows(df):
        return sorted(
            (r["event_type"], r["bucket_ts"], r["n_events"], r["zscore"])
            for r in df.collect()
        )

    def expected(rows):
        ev = spark.createDataFrame(rows, schema)
        return alert_rows(
            hourly_count_anomalies(ev, z_threshold=3.0, trailing=24)
        )

    # 10 calm hours at 2-3 events/hour (nonzero variance, or std=0 gives
    # every bucket a NULL zscore by design), then a spike hour: half now...
    eid = iter(range(10_000))
    b1 = [
        (next(eid), "view", base + dt.timedelta(hours=h, minutes=m))
        for h in range(10)
        for m in ((5, 35) if h % 2 else (5, 25, 45))
    ] + [
        (next(eid), "view", base + dt.timedelta(hours=10, minutes=m))
        for m in range(10)  # 10 of the spike's 20 events
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()
    assert alert_rows(spark.read.parquet(alerts)) == expected(b1)

    # ...half after a restart: the summed 20-event hour must alert
    b2 = [
        (next(eid), "view", base + dt.timedelta(hours=10, minutes=30 + m))
        for m in range(10)
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()
    got = alert_rows(spark.read.parquet(alerts))
    assert got == expected(b1 + b2)
    assert any(b == int((base + dt.timedelta(hours=10)).timestamp()) and n == 20
               for _, b, n, _ in got)  # the cross-restart spike alerted


def test_count_min_stream_equals_monolithic_rebuild(spark, tmp_path):
    """X22: after each of two batches (restart between), the maintained
    sketch must equal count_min_build over everything ingested so far,
    cell for cell — linearity lifted to the streaming fold."""
    from hiero_spark.operators.sketches import count_min_build

    schema = "event_id long, event_type string"
    src = tmp_path / "src"
    src.mkdir()
    sk = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = pl.count_min_stream_sink(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            sk, ckpt, col="event_type", depth=3, width=16,
        )
        q.awaitTermination(120)

    def cells(df):
        return sorted((r["row_j"], r["bucket"], r["cnt"]) for r in df.collect())

    b1 = [(i, f"t{i % 5}") for i in range(40)]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()
    assert cells(spark.read.parquet(sk)) == cells(
        count_min_build(spark.createDataFrame(b1, schema), "event_type", 3, 16)
    )

    b2 = [(100 + i, f"t{i % 7}") for i in range(33)]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()
    assert cells(spark.read.parquet(sk)) == cells(
        count_min_build(
            spark.createDataFrame(b1 + b2, schema), "event_type", 3, 16
        )
    )


def test_scd2_stream_equals_monolithic_rebuild(spark, tmp_path):
    """X23: after each of two batches (restart between), closed ∪ current
    must equal scd2_from_log over every event ingested so far — including
    a run CONTINUED across the restart (keeps its original valid_from), a
    change at the boundary, a brand-new key, and an untouched key."""
    import datetime as dt

    from hiero_spark.operators.temporal import scd2_from_log

    base = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_type string, event_id long"
    src = tmp_path / "src"
    src.mkdir()
    closed, cur = str(tmp_path / "closed"), str(tmp_path / "cur")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = pl.scd2_stream_sink(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            closed, cur, ckpt,
        )
        q.awaitTermination(120)

    def dim():
        import os

        parts = [spark.read.parquet(cur)]
        if os.path.exists(os.path.join(closed, "_SUCCESS")):
            parts.append(spark.read.parquet(closed))
        full = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return sorted(tuple(r) for r in full.collect())

    def rebuild(rows):
        df = spark.createDataFrame(rows, schema)
        return sorted(
            tuple(r)
            for r in scd2_from_log(
                df, "user_id", "ts", "event_type", "event_id"
            ).collect()
        )

    h = dt.timedelta(hours=1)
    b1 = [
        (1, base, "a", 1), (1, base + h, "a", 2), (1, base + 2 * h, "b", 3),
        (2, base, "x", 4),           # untouched in batch 2
        (3, base + h, "m", 5),       # continued across the restart
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()
    assert dim() == rebuild(b1)

    b2 = [
        (1, base + 4 * h, "a", 6),   # change at the boundary (b -> a)
        (3, base + 5 * h, "m", 7),   # same attr: run continues, no new row
        (4, base + 6 * h, "z", 8),   # brand-new key
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()
    got = dim()
    assert got == rebuild(b1 + b2)
    # the continued run kept its ORIGINAL valid_from and stayed one row
    m_rows = [r for r in got if r[0] == 3]
    assert len(m_rows) == 1
    assert m_rows[0][2] == int((base + h).timestamp()) * 1_000_000


def test_hll_stream_estimate_equals_monolithic(spark, tmp_path):
    """X24: maintained per-group HLL estimates must equal a monolithic
    hll_sketch_agg over everything ingested (register-max merge), across
    a restart; replaying the same fold is harmless (max is idempotent)."""
    schema = "event_id long, event_type string, user_id long"
    src = tmp_path / "src"
    src.mkdir()
    sk = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = pl.hll_distinct_stream_sink(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            sk, ckpt,
        )
        q.awaitTermination(120)

    def estimates():
        return {
            r["event_type"]: r["est"]
            for r in spark.read.parquet(sk)
            .select("event_type", F.expr("hll_sketch_estimate(hll)").alias("est"))
            .collect()
        }

    def mono(rows):
        df = spark.createDataFrame(rows, schema)
        return {
            r["event_type"]: r["est"]
            for r in df.groupBy("event_type")
            .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est"))
            .collect()
        }

    b1 = [(i, f"t{i % 3}", i % 50) for i in range(200)]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()
    assert estimates() == mono(b1)

    b2 = [(1000 + i, f"t{i % 4}", 40 + i % 30) for i in range(150)]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()
    assert estimates() == mono(b1 + b2)


def test_ohlc_restart_exact_once(spark, tmp_path):
    """X17 across a kill/restart: a candle finalized before the restart
    emits exactly once and never re-emits; a candle whose events span the
    restart emits once with open/close picked across BOTH batches."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, event_type string, ts timestamp, value double"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run = _restart_runner(spark, src, ckpt, out, pl.ohlc_stream, schema)

    b1 = [
        (1, "px", base + dt.timedelta(minutes=1), 10.00),   # 12:00 open
        (2, "px", base + dt.timedelta(minutes=30), 14.00),  # 12:00 high
        (3, "px", base + dt.timedelta(hours=1, minutes=5), 11.00),  # 13:00 open
        # wm -> 13:00: closes the 12:00 candle, leaves 13:00 open
        (4, "clock", base + dt.timedelta(hours=2), 1.00),
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1.parquet"))
    run()  # 12:00 candle closes

    b2 = [
        (5, "px", base + dt.timedelta(hours=1, minutes=50), 9.00),  # 13:00 close
        (6, "clock", base + dt.timedelta(hours=6), 1.00),   # wm -> 17:00
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2.parquet"))
    run()  # closes the 13:00 candle with events from both sides

    rows = sorted(
        (r["event_type"], r["bucket_ts"], r["n_events"], r["open_cents"],
         r["high_cents"], r["low_cents"], r["close_cents"])
        for r in spark.read.parquet(out).collect()
        if r["event_type"] == "px"
    )
    noon = int(base.timestamp())
    one = int((base + dt.timedelta(hours=1)).timestamp())
    assert rows == [
        ("px", noon, 2, 1000, 1400, 1000, 1400),  # finalized pre-restart, once
        ("px", one, 2, 1100, 1100, 900, 900),     # spans the restart, once
    ]


def test_cusum_stream_matches_batch_across_restart(spark, tmp_path):
    """X25: the streaming drift table after ANY batch must equal the
    batch CUSUM over everything ingested (fold == recompute through the
    day-count monoid + one shared cusum_scaled code path), including
    across a kill/restart between batches."""
    from hiero_spark.operators.anomaly import cusum_scaled

    src = tmp_path / "orders_src"
    src.mkdir()
    state = str(tmp_path / "state")
    drift = str(tmp_path / "drift")
    ck = str(tmp_path / "ckpt")
    schema = "o_orderkey long, o_orderdate timestamp"

    def rows_for(days, base_key, per_day):
        out = []
        k = base_key
        for d, n in zip(days, per_day):
            for _ in range(n):
                out.append((k, f"2024-02-{d:02d} 12:00:00")); k += 1
        return out

    def run_batch(rows, name):
        df = spark.createDataFrame(rows, "o_orderkey long, o_orderdate string") \
            .selectExpr("o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate")
        df.coalesce(1).write.parquet(str(src / name))
        stream = spark.readStream.schema(schema).parquet(f"{src}/b*.parquet")
        q = pl.cusum_stream_sink(stream, state, drift, ck)
        q.awaitTermination(120)

    def batch_cusum(all_rows):
        df = spark.createDataFrame(all_rows, "o_orderkey long, o_orderdate string") \
            .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS ts")
        daily = df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
        return sorted(map(tuple, (
            cusum_scaled(daily)
            .orderBy(F.abs(F.col("s_scaled")).desc(), F.asc("day"))
            .limit(3).collect()
        )))

    b0 = rows_for(range(1, 11), 0, [5] * 10)             # flat
    run_batch(b0, "b0.parquet")
    assert sorted(map(tuple, spark.read.parquet(drift).collect())) == \
        batch_cusum(b0)

    # level shift arrives in batch 1 — a fresh sink instance (restart:
    # new query object, same checkpoint/state) must fold on top
    b1 = rows_for(range(11, 21), 10_000, [15] * 10)
    run_batch(b1, "b1.parquet")
    got = sorted(map(tuple, spark.read.parquet(drift).collect()))
    assert got == batch_cusum(b0 + b1)
    # the peak |S| day is the shift boundary
    peak = max(spark.read.parquet(drift).collect(),
               key=lambda r: abs(r["s_scaled"]))
    assert peak["day"] == "2024-02-10"
