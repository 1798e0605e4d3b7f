"""Structured Streaming pipelines (SURVEY.md §2.9 X1–X5).

The reference is batch-interactive only; streaming is an engine extension.
The same window expressions used by the batch queries in
hiero_spark/queries/streaming.py run here unchanged under readStream —
that equivalence (batch oracle ⇔ streaming pipeline) is the test strategy:
batch mode is DuckDB-checkable, streaming mode is smoke-checked with
availableNow + memory sink.

Watermarks bound state: at 100 TB/day of events the windowed aggregation
state is (windows × event_types), and late rows older than the watermark
are dropped instead of growing state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hiero_spark.catalog import _ensure_session_confs, normalize_events_ts, table_path


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (each file = one micro-batch
    unit; in production this would be Kafka/files landing continuously).

    ts normalization is shared with the batch reader (catalog.normalize_events_ts)
    so the two paths dispatch identically on whatever physical type the parquet
    ships (epoch-nanos long / TIMESTAMP_NTZ / timestamp).
    """
    _ensure_session_confs(spark)
    static = spark.read.parquet(table_path(sf_dir, "events"))
    # FileStreamSource needs a directory/glob, and the testdata table is a
    # single file — glob within the sf dir so basePath resolves to the dir.
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(f"{sf_dir}/events*.parquet")
    )
    return normalize_events_ts(stream)


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """X1+X4: tumbling 1h windows with watermark-bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("w.start").alias("window_start"), "event_type", "event_count")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """X3: session windows per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("w.start").alias("session_start"), "user_id", "event_count")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """X5: stateful exact dedup on event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """X6: stream-stream INTERVAL join — attribute each click to the views
    by the same user in the preceding attribution window (view <= click <
    view + window).  The canonical Spark stream-stream inner join: both
    sides carry watermarks and the join condition bounds event time on
    both ends, so the state store holds only watermark + window of each
    side per key — without the time bounds the state would grow forever
    (Spark refuses unbounded stream-stream inner joins for exactly that
    reason).  Batch twin: x10_attribution_batch (same expressions, DuckDB
    oracle).
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}"))
    )
    return v.join(c, cond).select("user_id", "view_id", "click_id")


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY.md §2.10: the ISketch zero/add/merge
    surface, user-definable): per-user running (count, first_ms, last_ms),
    maintained with applyInPandasWithState and emitted as an update stream.

    Scale shape: state is one tiny fixed-width tuple per user key,
    partitioned by user_id (the groupBy key), so state size is O(users) and
    each micro-batch touches only the keys present in that batch. Arrow
    moves rows to Python in batches — this is the sanctioned slow path for
    semantics Spark's built-in stateful ops can't express.

    Epoch millis (longs) rather than timestamps cross the Arrow/state
    boundary: GroupState round-trips primitives losslessly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, event_count long, first_ms long, last_ms long"
    state_schema = "event_count long, first_ms long, last_ms long"

    def update(key, pdfs, state):
        import pandas as pd

        count, first_ms, last_ms = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if pdf.empty:
                continue
            ms = pdf["ts"].astype("int64") // 1_000_000
            count += len(pdf)
            lo, hi = int(ms.min()), int(ms.max())
            first_ms = lo if first_ms is None else min(first_ms, lo)
            last_ms = hi if last_ms is None else max(last_ms, hi)
        state.update((count, first_ms, last_ms))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_count": [count],
                "first_ms": [first_ms],
                "last_ms": [last_ms],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete",
                  timeout_s: int = 120):
    """Drain a streaming query into an in-memory table (availableNow: process
    everything currently available, then stop).

    output_mode: "complete" for aggregations, "append" for row streams
    (dedup) where the watermark finalizes output.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return q


def batch_id_writer(path: str):
    """The foreachBatch body for `idempotent_parquet_sink`, exposed so
    tests can replay a micro-batch directly (the failure mode the sink
    exists to survive)."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return write_batch


def _start_fold(stream_df: DataFrame, fold, checkpoint: str):
    """Start `fold` as a foreachBatch sink over `stream_df`: availableNow
    (process everything currently available, then stop), checkpointed at
    `checkpoint` so a restart resumes after the last committed batch.
    Returns the started query."""
    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def idempotent_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint: str, timeout_s: int = 120
):
    """Exactly-once file sink for non-transactional stores (X11).

    Structured Streaming guarantees each micro-batch a stable batch_id
    and replays the LAST batch after a crash that hit between the sink
    write and the checkpoint commit.  A plain append sink therefore
    duplicates that batch; the standard recipe (documented for
    foreachBatch in the Spark streaming guide) is to make the write
    idempotent ON batch_id — here by partitioning the output on
    `_batch_id` with dynamic partition overwrite, so a replay replaces
    its own partition byte-for-byte instead of appending a second copy.
    Readers see `path` as ordinary parquet (the batch id is just an
    extra partition column); at 100 TB the same shape lands micro-batch
    increments into object storage without a table format's transaction
    log — and each batch's write is a narrow per-partition operation.
    """
    q = _start_fold(stream_df, batch_id_writer(path), checkpoint)
    q.awaitTermination(timeout_s)
    return q


def admit_stream(
    doc_stream: DataFrame, index_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """X12: streaming ingest dedup against a STATIC corpus index — the
    streaming twin of functions/incremental.py:admit_batch.

    Stream-static left-anti join on the md5 fingerprint (stateless: the
    static side is just re-read per micro-batch, no join state
    accumulates) rejects docs already in yesterday's corpus, then
    dropDuplicates([fp]) dedups WITHIN the stream — that state is one
    16-byte key per distinct admitted text, the same bound the batch
    path's groupBy carries.  On restart dropDuplicates state replays
    from the checkpoint, so a doc admitted before a crash stays admitted,
    not re-emitted.
    """
    from hiero_spark.functions.text import fingerprint

    return (
        doc_stream.withColumn("fp", fingerprint(F.col(text_col)))
        .join(index_df.select(F.col("fp")), "fp", "left_anti")
        .dropDuplicates(["fp"])
        .select(id_col, text_col, "fp")
    )


def near_dup_stream_sink(
    doc_stream: DataFrame,
    index_buckets_path: str,
    index_shingles_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """X13: streaming NEAR-dup detection against the persisted LSH index
    (functions/incremental.py:lsh_index saved to parquet).

    Signature work per micro-batch wants the batch-side persist that
    incremental_near_dups applies (without it the shingle expression
    re-evaluates per reference), and persist is illegal on a streaming
    DataFrame — so this runs as foreachBatch: each micro-batch is a
    plain batch DataFrame probed with the SAME batch operator users run
    offline, and results land through the batch-id-keyed idempotent
    writer (a replayed micro-batch overwrites its own partition, never
    appends duplicates). One code path for offline and streaming
    near-dup — the equivalence is by construction, not by twin
    implementations.
    """
    from hiero_spark.functions.incremental import incremental_near_dups

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = incremental_near_dups(
            batch_df,
            spark.read.parquet(index_buckets_path),
            spark.read.parquet(index_shingles_path),
            text_col,
            id_col,
        )
        (
            pairs.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )

    return _start_fold(doc_stream, probe, checkpoint)


def attribution_join_outer(
    views: DataFrame,
    clicks: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """X14: LEFT-OUTER stream-stream join — every view emits exactly once:
    joined to its in-window clicks when they arrive, or with NULL click
    columns once the watermark passes the view's attribution window and
    no click can still match. The "conversion funnel with explicit
    non-conversions" primitive; the inner join (attribution_join) can
    never tell you who did NOT click.

    Same state-bounding contract as the inner form (both sides
    watermarked, event time bounded on both ends of the condition —
    Spark requires it for outer stream-stream joins precisely because
    the null-emission decision needs a point where a row is provably
    beyond matching). The null side emits only after the watermark
    advances past view_ts + window, so results trickle: a batch
    comparison must run with availableNow over closed input, where the
    final watermark closes every view (tested against the batch left
    join twin).
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            < F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return v.join(c, cond, "left_outer").select(
        F.col("v_user").alias("u"), "view_id", "click_id"
    )


def distinct_users_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """X15: exact distinct users per (event_type, tumbling window) on a
    stream — the streaming face of the uniques family (batch rolling
    window: operators/temporal.py:rolling_distinct).

    Distinct-count state does not merge incrementally, so the standard
    streaming recipe splits it: watermarked dropDuplicates on the FULL
    key (type, window, user) holds one row of state per distinct triple
    and expires it with the watermark; the windowed count that follows
    is then an ordinary additive aggregate. State is bounded by
    distinct triples inside the watermark horizon — the same
    triple-collapse that bounds the batch operator's shuffle.
    """
    w = F.window(F.col("ts"), window)
    return (
        events.withWatermark("ts", watermark)
        .select("event_type", "user_id", "ts", w.alias("win"))
        .dropDuplicates(["event_type", "user_id", "win"])
        .groupBy("event_type", "win")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(
            "event_type",
            F.unix_timestamp(F.col("win.start")).alias("bucket_ts"),
            "n_distinct",
        )
    )


def text_index_stream_sink(
    doc_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """X16: streaming full-text index maintenance — each micro-batch of
    ingested documents folds into the persisted inverted index via the
    SAME batch operator offline ingest uses
    (functions/bm25.py:update_text_index), so a probe after any batch
    ranks EXACTLY like a from-scratch rebuild over everything ingested
    so far (df/idf are computed at probe time from the postings; the
    equality is by construction, one code path — the X13 foreachBatch
    contract).

    foreachBatch because the fold touches two tables (bucketed postings
    append + 1-row stats rewrite); exactly-once across restarts comes
    from the checkpoint's batch tracking, NOT from the sink being
    idempotent — a batch replayed after a crash-between-write-and-commit
    would double its postings, so the upstream source must be
    replay-free (availableNow over immutable files, the ingest shape) or
    the admit gate (X12) must run inside the batch to drop already-
    indexed ids; the test exercises the clean-restart path."""
    from hiero_spark.functions.bm25 import save_text_index, update_text_index

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        if os.path.exists(
            os.path.join(index_path, "stats", "_SUCCESS")
        ):
            update_text_index(
                spark, index_path, batch_df, n_buckets, text_col, id_col
            )
        else:
            save_text_index(
                batch_df, index_path, n_buckets, text_col, id_col
            )

    return _start_fold(doc_stream, fold, checkpoint)


def ohlc_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """X17: streaming candlesticks — the streaming twin of the batch
    ext_ohlc_downsample query (queries/retrieval.py).

    min_by/max_by are declarative aggregates with mergeable partial
    state (argmin/argmax pairs), so each micro-batch folds its partial
    OHLC into the windowed state exactly like count/sum — no custom
    stateful operator needed. open/close pick cents at the min/max
    event_id (the unique total order — never a double tiebreak), all
    values are exact long cents, and state is one small row per
    (event_type, window) inside the watermark horizon.
    """
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .select("event_type", "ts", "event_id", cents.alias("cents"))
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min_by("cents", "event_id").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "event_id").alias("close_cents"),
            F.sum("cents").alias("volume_cents"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).alias("bucket_ts"),
            "n_events", "open_cents", "high_cents", "low_cents",
            "close_cents", "volume_cents",
        )
    )


def join_view_stream_sink(
    tagged_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    key_col: str = "key",
):
    """X18: streaming JOIN-view maintenance — the streaming twin of
    s21_incremental_join_view, fed by a CDC-style tagged union stream
    (each row carries side='a'|'b' plus (key, val), the one-topic
    multi-table ingest shape).

    Every micro-batch splits into (da, db) and folds through the SAME
    batch delta rule (functions/incremental.py:join_view_delta):

        dV = dA |x| (B u dB)  u  A |x| dB

    so after ANY batch the accumulated view equals a from-scratch join
    of everything ingested so far — one code path on/offline, the
    X13/X16 foreachBatch contract. The stored sides are parquet
    appends; maintenance work per batch is O(|batch| x matches), the
    stored sides scan but never shuffle (both legs broadcast the
    delta).

    Exactly-once across restarts comes from the checkpoint's batch
    tracking (three appends per batch commit together or replay
    together), so the upstream must be replay-free (availableNow over
    immutable files) — the X16 caveat, pinned by the restart test.
    """
    from hiero_spark.functions.incremental import join_view_delta

    import os

    a_store = os.path.join(state_dir, "a")
    b_store = os.path.join(state_dir, "b")
    view_store = os.path.join(state_dir, "view")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        da = batch_df.filter(F.col("side") == "a").select(
            key_col, F.col("val").alias("a_val")
        )
        db = batch_df.filter(F.col("side") == "b").select(
            key_col, F.col("val").alias("b_val")
        )

        def stored(path, like):
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                return spark.read.parquet(path)
            return like.limit(0)

        a_old = stored(a_store, da)
        b_old = stored(b_store, db)
        delta = join_view_delta(a_old, b_old, da, db, key_col)
        delta.write.mode("append").parquet(view_store)
        da.write.mode("append").parquet(a_store)
        db.write.mode("append").parquet(b_store)

    return _start_fold(tagged_stream, fold, checkpoint)


def with_synthetic_ingest_ts(
    docs: DataFrame, id_col: str = "doc_id", base: str = "2024-01-01 00:00:00"
) -> DataFrame:
    """Deterministic 1-doc-per-second ingest clock for feeds that carry no
    event time (the documents table): ts = base + id seconds. Production
    replaces this with the real ingest timestamp column; everything
    downstream (windows, watermarks, twins, oracles) is agnostic."""
    return docs.withColumn(
        "ts",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(base)) + F.col(id_col).cast("long")
        ),
    )


def quality_monitor_stream(
    doc_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """X19: streaming data-quality monitoring — the gate-rate dashboard a
    production ingest pipeline alarms on (a crawler gone bad shows up as
    a pass-rate cliff long before a corpus-level audit would catch it).

    Per ingest window: doc count, per-gate pass counts (quality score,
    symbol ratio, duplicate-line share, prose gate — the SAME Catalyst
    expressions the batch curation funnel evaluates, one code path
    on/offline), the all-gates pass rate, and an alert flag. Every
    aggregate is a conditional sum — mergeable partial state, so this is
    a plain windowed aggregation: one small state row per window inside
    the watermark horizon, emitted exactly once in append mode when the
    watermark closes the window. Requires a `ts` column
    (with_synthetic_ingest_ts supplies one for clockless feeds)."""
    from hiero_spark.functions import text as tx

    txt = F.col("text")
    g1 = tx.quality_score(txt) >= 0.5
    g2 = tx.symbol_word_ratio(txt) <= 0.10
    g3 = tx.duplicate_line_fraction(txt) <= 0.30
    g4 = tx.prose_gate(txt)
    cnt = lambda c: F.sum(c.cast("long")).alias  # noqa: E731
    passed = (g1 & g2 & g3 & g4).cast("long")
    return (
        doc_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            cnt(g1)("n_quality"),
            cnt(g2)("n_symbol"),
            cnt(g3)("n_dupline"),
            cnt(g4)("n_prose"),
            F.sum(passed).alias("n_pass_all"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_ts"),
            "n_docs", "n_quality", "n_symbol", "n_dupline", "n_prose",
            "n_pass_all",
            F.round(F.col("n_pass_all") / F.col("n_docs"), 6).alias("pass_rate"),
            (F.col("n_pass_all") / F.col("n_docs") < 0.5).alias("alert"),
        )
    )


def make_wap_fold(table_path: str, checks, quarantine_path: str):
    """The per-micro-batch Write-Audit-Publish fold (factored out of
    wap_stream_sink so tests can drive replay scenarios directly).

    Exactly-once ACROSS CRASHES, not just clean restarts — stronger
    than the X16 caveat, because the versioned table's own metadata
    closes the replay window foreachBatch leaves open:

    * publish completed, then crash before checkpoint commit: the
      replayed batch finds its batch_id in a published manifest's note
      (sources/versioned.py:manifest_notes) and no-ops;
    * crash between stage and publish: the stale staged.json is
      aborted (its files were never reader-visible) and the replayed
      batch re-stages from scratch — the stage/publish pair is made
      idempotent by the abort, not by assuming replay-free sources.

    A batch that FAILS the audit is quarantined (overwrite into
    quarantine_path/batch=<id>, itself replay-idempotent) instead of
    dropped: readers never see it, but reprocessing is a batch replay
    of the quarantine dir through wap_commit once the data is fixed.
    The audit runs at delta scope — O(batch) per commit, history was
    audited when it published."""
    from hiero_spark.sources import versioned as V

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if any(
            n.get("batch_id") == batch_id
            for n in V.manifest_notes(table_path).values()
        ):
            return  # replay of a completed publish: exactly-once no-op
        staged = os.path.join(table_path, "_manifest", "staged.json")
        if os.path.exists(staged):
            V.abort_staged(table_path)  # crash left a stage mid-flight
        res = V.wap_commit(
            spark,
            batch_df,
            table_path,
            checks,
            note={"batch_id": batch_id},
            audit_scope="delta",
        )
        if not res["published"]:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(quarantine_path, f"batch={batch_id}")
            )

    return fold


def wap_stream_sink(
    stream_df: DataFrame,
    table_path: str,
    checks,
    checkpoint: str,
    quarantine_path: str,
):
    """X20: streaming ingest through the Write-Audit-Publish gate — each
    micro-batch stages into the snapshot-versioned table, is audited by
    the declarative Checks at delta scope, and publishes (or
    quarantines) atomically; readers of read_version/read_latest only
    ever see batches that passed. Composes X13's foreachBatch shape
    with the versioned table's staging (one code path with the batch
    wap_commit). See make_wap_fold for the crash/replay contract."""
    return _start_fold(
        stream_df, make_wap_fold(table_path, checks, quarantine_path), checkpoint
    )


def anomaly_stream_sink(
    events: DataFrame,
    state_path: str,
    alerts_path: str,
    checkpoint: str,
    z_threshold: float = 3.0,
    trailing: int = 24,
):
    """X21: streaming anomaly monitoring — the on-line face of
    ext_rolling_anomaly, maintained incrementally instead of re-scanning
    history. Each micro-batch folds its hourly (key, bucket) counts into
    a persisted bucket-count state (exact long addition — the agg_state
    monoid, so fold == recompute bit-for-bit), then the rolling z-score
    recomputes over the STATE table and rewrites the alert set.

    The cost split is the whole point: per batch O(batch) to bucket +
    O(buckets) to merge/score — the raw event history is never re-read,
    and the scored table is keys x hours (thousands of rows at any
    corpus size), so 'recompute the windows' is the cheap step by
    construction (same bounded-bucket argument as rolling_zscore's
    docstring). Alerts rewrite atomically per batch (mode=overwrite):
    readers always see the complete current alert set, and a re-run of
    the same fold is idempotent on the ALERTS side. State appends share
    the X16 replay caveat: a batch replayed after a crash-between-
    write-and-commit would double its counts — run a replay-free source
    (availableNow over immutable files) or the X12 admit gate in-batch.
    The equivalence 'alerts after any batch == batch operator over
    everything ingested' is pinned in tests."""
    from hiero_spark.operators.anomaly import rolling_zscore

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_state = (
            batch_df.groupBy(
                "event_type",
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
                    "bucket_ts"
                ),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        if os.path.exists(os.path.join(state_path, "_SUCCESS")):
            merged = (
                spark.read.parquet(state_path)
                .unionByName(batch_state)
                .groupBy("event_type", "bucket_ts")
                .agg(F.sum("n_events").alias("n_events"))
            )
        else:
            merged = batch_state
        # bucket table is bounded (keys x hours): materialize off the
        # input path before overwriting it (read-then-overwrite hazard)
        merged = merged.localCheckpoint()
        merged.write.mode("overwrite").parquet(state_path)
        scored = rolling_zscore(
            merged, "event_type", "bucket_ts", "n_events", trailing
        )
        alerts = scored.filter(
            F.col("zscore").isNotNull() & (F.abs("zscore") >= z_threshold)
        ).select(
            "event_type",
            "bucket_ts",
            "n_events",
            F.round("baseline_mean", 6).alias("baseline_mean"),
            F.round("zscore", 6).alias("zscore"),
        )
        alerts.write.mode("overwrite").parquet(alerts_path)

    return _start_fold(events, fold, checkpoint)


def count_min_stream_sink(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    col: str = "event_type",
    depth: int = 4,
    width: int = 256,
):
    """X22: streaming count-min maintenance — each micro-batch's sketch
    merges cell-wise into the persisted one (operators/sketches.py:
    count_min_build/merge). LINEARITY is what makes the streaming face
    exact, not approximate-on-top-of-approximate: sketch(history u
    batch) == merge(sketch(history), sketch(batch)) cell-for-cell, so
    the maintained sketch after ANY batch equals a monolithic rebuild
    over everything ingested — the same pin a8_count_min_verdict makes
    for shard merges, lifted to foreachBatch. Per batch: O(batch) to
    hash + one groupBy to <= depth*width cells + a <= depth*width-row
    rewrite; history never re-read, state is a few KB regardless of
    stream volume. X16's replay caveat applies to the state append
    (availableNow over immutable files, or the X12 admit gate)."""
    from hiero_spark.operators.sketches import count_min_build, count_min_merge

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_sk = count_min_build(batch_df, col, depth, width)
        if os.path.exists(os.path.join(sketch_path, "_SUCCESS")):
            merged = count_min_merge(spark.read.parquet(sketch_path), batch_sk)
        else:
            merged = batch_sk
        # <= depth*width rows: materialize off the input path before the
        # overwrite (the X21 read-then-overwrite discipline)
        merged.localCheckpoint().write.mode("overwrite").parquet(sketch_path)

    return _start_fold(stream_df, fold, checkpoint)


def scd2_stream_sink(
    change_stream: DataFrame,
    closed_path: str,
    current_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    attr_col: str = "event_type",
    tiebreak_col: str = "event_id",
):
    """X23: streaming SCD-Type-2 dimension maintenance — fold a change
    stream into the validity-interval history the batch scd2_from_log
    builds, without ever re-reading it.

    The split that makes it incremental: CLOSED runs are immutable the
    moment their valid_to is known, so they live in an append-only
    directory (O(new closures) written per batch); only CURRENT rows
    (one per key) can still change, so they live in a small overwrite
    table. Per batch, only keys the batch touches re-derive: their
    stored current row is re-expressed as the event that opened it
    (tiebreak -1 sorts it before any same-timestamp batch event) and
    runs through THE SAME batch operator with the batch's events — a
    cross-batch continuation of an unchanged attribute keeps its
    original valid_from, a change closes the stored run at the change's
    timestamp, exactly as a monolithic rebuild would (pinned in tests
    across a restart). Untouched keys' current rows carry forward
    unread-in-spirit: the rewrite is O(keys), and partitioning current
    by key-hash would make it O(touched) (the upsert_partitioned seam).

    Contract: batch events must not predate a touched key's CURRENT
    run (append-only time per key) — an older event would rewrite
    closed history, which is bitemporal territory; X16's replay caveat
    applies to the closed-run appends."""
    from hiero_spark.operators.temporal import scd2_from_log

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        log = batch_df.select(
            F.col(key_col),
            F.col(ts_col),
            F.col(attr_col),
            F.col(tiebreak_col).cast("long").alias("_tb"),
        )
        if os.path.exists(os.path.join(current_path, "_SUCCESS")):
            cur = spark.read.parquet(current_path)
            keys = log.select(F.col(key_col).alias("key")).distinct()
            touched = cur.join(keys, "key", "left_semi")
            untouched = cur.join(keys, "key", "left_anti")
            reopened = touched.select(
                F.col("key").alias(key_col),
                F.timestamp_micros(F.col("valid_from")).alias(ts_col),
                F.col("attr").alias(attr_col),
                F.lit(-1).cast("long").alias("_tb"),
            )
            log = log.unionByName(reopened)
        else:
            untouched = None
        runs = scd2_from_log(log, key_col, ts_col, attr_col, "_tb")
        closed = runs.filter(~F.col("is_current")).localCheckpoint()
        current = runs.filter(F.col("is_current"))
        if untouched is not None:
            current = current.unionByName(untouched)
        current = current.localCheckpoint()  # off current_path before overwrite
        if not closed.isEmpty():
            closed.write.mode("append").parquet(closed_path)
        current.write.mode("overwrite").parquet(current_path)

    return _start_fold(change_stream, fold, checkpoint)


def hll_distinct_stream_sink(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    col: str = "user_id",
    group_col: str = "event_type",
):
    """X24: streaming distinct-count maintenance via mergeable HLL
    state — the third of the mergeable-sketch folds (X22 count-min =
    frequencies, s17 histogram state = quantiles, this = cardinality).
    Each micro-batch's per-group HLL sketches union into the persisted
    ones; HLL union is a sketch-level merge (register-wise max), so the
    maintained sketch equals the one a monolithic hll_sketch_agg over
    everything ingested would build — estimates agree exactly, pinned
    across a restart. State is one ~KB binary per group regardless of
    stream volume; per batch: O(batch) to sketch + O(groups) to merge
    and rewrite. X16's replay caveat applies (union is idempotent for
    DUPLICATE VALUES but a replayed batch is harmless here precisely
    because HLL registers are max-merged — replay safety comes free,
    unlike the additive count-min)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_sk = batch_df.groupBy(F.col(group_col)).agg(
            F.hll_sketch_agg(F.col(col)).alias("hll")
        )
        if os.path.exists(os.path.join(sketch_path, "_SUCCESS")):
            merged = (
                spark.read.parquet(sketch_path)
                .unionByName(batch_sk)
                .groupBy(group_col)
                .agg(F.hll_union_agg(F.col("hll")).alias("hll"))
            )
        else:
            merged = batch_sk
        merged.localCheckpoint().write.mode("overwrite").parquet(sketch_path)

    return _start_fold(stream_df, fold, checkpoint)


def cusum_stream_sink(
    order_stream: DataFrame,
    state_path: str,
    drift_path: str,
    checkpoint: str,
    ts_col: str = "o_orderdate",
    top_k: int = 3,
):
    """X25: streaming CUSUM drift monitoring — the on-line face of
    ext_cusum_changepoint (sustained level shifts, the failure the X21
    spike gate never trips on), maintained incrementally.

    Each micro-batch folds its daily counts into the persisted bounded
    day-count state (exact long addition — the agg_state monoid, fold ==
    recompute bit-for-bit), then the all-BIGINT scaled CUSUM
    (operators/anomaly.py:cusum_scaled — ONE code path with the batch
    query) recomputes over the O(date domain) state and rewrites the
    top-k drift table atomically. Per batch: O(batch) to bucket +
    O(days) to merge/score; the raw history is never re-read. The
    equivalence 'drift table after any batch == the batch operator over
    everything ingested' is pinned in tests, across a kill/restart.
    X16's replay caveat applies to the state appends (availableNow over
    immutable files, or the X12 admit gate)."""
    from hiero_spark.operators.anomaly import cusum_scaled

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_state = batch_df.groupBy(
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
        if os.path.exists(os.path.join(state_path, "_SUCCESS")):
            merged = (
                spark.read.parquet(state_path)
                .unionByName(batch_state)
                .groupBy("day")
                .agg(F.sum("n").cast("long").alias("n"))
            )
        else:
            merged = batch_state
        merged = merged.localCheckpoint()  # read-then-overwrite hazard
        merged.write.mode("overwrite").parquet(state_path)
        (
            cusum_scaled(merged)
            .orderBy(F.abs(F.col("s_scaled")).desc(), F.asc("day"))
            .limit(top_k)
            .write.mode("overwrite")
            .parquet(drift_path)
        )

    return _start_fold(order_stream, fold, checkpoint)
