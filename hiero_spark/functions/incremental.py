"""Incremental (snapshot-delta) dedup: admit a new ingest batch against
an existing corpus without reprocessing the corpus.

A production crawl dedups each day's batch against the full history. The
history's contribution is a FINGERPRINT INDEX — one 16-byte md5 per
distinct historical text — never the bodies; the daily job is then

    batch -> fingerprint -> anti-join index -> keep min-id per batch fp

Scale shape (100 TB history, ~GB-scale daily batch): the index is
(corpus distinct fps) and is built ONCE, then maintained by appending
each admitted batch's fps (`updated_index`); the per-batch cost is one
shuffle of batch fps + the index-side join scan. Persist the index
bucketed by fp (sources/readers.py:save_bucketed) and the anti-join's
index side needs no shuffle at all — tested in tests/test_incremental.py.
Bodies never move in any step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from hiero_spark.functions._cachetrack import persist_tracked
from hiero_spark.functions._fanout import fan_out
from hiero_spark.functions.dedup import (
    band_buckets,
    minhash_signatures,
    shingle_hash_array,
)
from hiero_spark.functions.text import fingerprint


def fingerprint_index(corpus_df: DataFrame, text_col: str) -> DataFrame:
    """Distinct content fingerprints of the corpus — the only state the
    incremental path keeps (16 bytes per distinct text)."""
    return corpus_df.select(
        fingerprint(F.col(text_col)).alias("fp")
    ).distinct()


def admit_batch(
    batch_df: DataFrame, index_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, fp, batch_dups): batch docs to admit — not an exact
    duplicate of anything in the index, one representative (min id) per
    duplicate group WITHIN the batch; batch_dups counts the batch-internal
    copies the representative stands for. The fp column feeds
    `updated_index` without re-hashing."""
    batch_fp = batch_df.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    fresh = batch_fp.join(index_df, "fp", "left_anti")
    return fresh.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("batch_dups"),
    ).select("doc_id", "fp", "batch_dups")


def updated_index(index_df: DataFrame, admitted_batch: DataFrame, text_col: str) -> DataFrame:
    """Next snapshot's index: old index ∪ admitted batch fps. Admitted fps
    are disjoint from the index by construction, so a cheap unionByName
    (no re-distinct) suffices when `admitted_batch` carries `fp`; callers
    re-fingerprint when it carries text."""
    cols = set(admitted_batch.columns)
    fps = (
        admitted_batch.select("fp")
        if "fp" in cols
        else admitted_batch.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    )
    return index_df.unionByName(fps)


def lsh_index(
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """The persistable NEAR-dup index of a corpus: (buckets, shingles).

    buckets = (doc, band, bkt) LSH band-bucket rows, oversized buckets
    dropped at BUILD time (the cap is an index property, paid once, not
    re-derived per probe); shingles = (doc, sh) hashed shingle arrays for
    the verify join. Persist both; bucket the bucket relation by
    (band, bkt) and daily probes join it shuffle-free."""
    # persist the shingled relation BEFORE minhashing (tracked, so a
    # long-lived driver releases it with release_caches()): minhash_signatures
    # requires `sh` to be a cheap column reference (its docstring
    # contract) — unmaterialized, CollapseProject inlines the shingling
    # expression into the per-seed transform lambda and re-shingles every
    # document num_hashes times (measured 13 s -> 1.4 s cold at sf0.1)
    docs = persist_tracked(fan_out(corpus_df, id_col).select(
        F.col(id_col).alias("doc"),
        shingle_hash_array(F.col(text_col), k).alias("sh"),
    ))
    sig = minhash_signatures(docs, num_hashes)
    buckets = band_buckets(sig, num_hashes, bands)
    capped = buckets.withColumn(
        "bucket_size", F.count(F.lit(1)).over(Window.partitionBy("band", "bkt"))
    ).filter(F.col("bucket_size") <= max_bucket).drop("bucket_size")
    return capped, docs


def incremental_near_dups(
    batch_df: DataFrame,
    index_buckets: DataFrame,
    index_shingles: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """(batch_doc, corpus_doc, jaccard): batch docs near-duplicating an
    indexed corpus doc — the daily near-dup job, costing one batch-sized
    shingle/signature pass + a bucket join against the index + exact
    Jaccard on candidates only. The corpus is never re-shingled; identical
    text always collides (equal shingle sets give equal signatures in
    every band), so planted exact copies are found deterministically."""
    b_docs = persist_tracked(fan_out(batch_df, id_col).select(
        F.col(id_col).alias("doc"),
        shingle_hash_array(F.col(text_col), k).alias("sh"),
    ))
    b_sig = minhash_signatures(b_docs, num_hashes)
    b_buckets = band_buckets(b_sig, num_hashes, bands)
    cand = (
        b_buckets.select("band", "bkt", F.col("doc").alias("batch_doc"))
        .join(
            index_buckets.select("band", "bkt", F.col("doc").alias("corpus_doc")),
            ["band", "bkt"],
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    ba = b_docs.select(F.col("doc").alias("batch_doc"), F.col("sh").alias("sh_a"))
    ca = index_shingles.select(
        F.col("doc").alias("corpus_doc"), F.col("sh").alias("sh_b")
    )
    joined = cand.join(ba, "batch_doc").join(ca, "corpus_doc")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("batch_doc", "corpus_doc", "jaccard")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view upkeep)


def agg_state(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Mergeable per-key aggregate state: (key, n, sum_v, min_v, max_v).

    Each statistic is a commutative monoid, so states built from
    disjoint batches COMBINE exactly — the algebraic fact incremental
    ETL rests on. Sum order only matters for floating-point values;
    callers wanting bit-exact maintenance feed a scaled-integer value
    column (the money_sum convention) and sums stay exact longs."""
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col)).alias("sum_v"),
        F.min(F.col(value_col)).alias("min_v"),
        F.max(F.col(value_col)).alias("max_v"),
    )


def merge_agg_state(state_df: DataFrame, batch_state: DataFrame) -> DataFrame:
    """Fold a new batch's state into the stored state: one full-outer
    join on key, each monoid component combined (least/greatest skip the
    absent side's NULLs in both engines). The stored table never
    re-reads history — maintenance cost is O(batch + touched keys), the
    materialized-view contract."""
    s = state_df.select(
        "key",
        F.col("n").alias("n_a"), F.col("sum_v").alias("sum_a"),
        F.col("min_v").alias("min_a"), F.col("max_v").alias("max_a"),
    )
    b = batch_state.select(
        "key",
        F.col("n").alias("n_b"), F.col("sum_v").alias("sum_b"),
        F.col("min_v").alias("min_b"), F.col("max_v").alias("max_b"),
    )
    zero = lambda c: F.coalesce(F.col(c), F.lit(0))
    return s.join(b, "key", "full_outer").select(
        "key",
        (zero("n_a") + zero("n_b")).cast("long").alias("n"),
        (zero("sum_a") + zero("sum_b")).alias("sum_v"),
        F.least("min_a", "min_b").alias("min_v"),
        F.greatest("max_a", "max_b").alias("max_v"),
    )


# ---------------------------------------------------------------------------
# Incremental quantile maintenance (mergeable histogram state)


def quantile_state(
    df: DataFrame, key_col: str, cents_col: str, width: int = 100_000
) -> DataFrame:
    """Mergeable per-key quantile state: (key, bucket, cnt) counts on a
    fixed integer grid (bucket = floor(cents / width)).

    FLOOR semantics, not Spark's truncate-toward-zero `DIV`: for
    negative cents (refunds/credits) truncation would fold
    (-width, width) into bucket 0 and disagree with the DuckDB `//`
    oracle. Computed as (cents - pmod(cents, width)) DIV width — pmod's
    remainder is nonnegative, so the numerator is an exact multiple of
    width and the division is exact long arithmetic in any rounding
    mode (no double round-trip, values past 2^53 stay exact).

    GK sketches merge but are opaque blobs; a fixed-resolution histogram
    is the quantile state that is BOTH mergeable (counts add — exact
    long monoid, same algebra as agg_state) and fully SQL-mirrorable, so
    incremental maintenance keeps hash-checkable evidence. Resolution is
    the explicit trade: probes return the quantile's bucket lower bound
    (error < width cents), which is hiero's own resolution-bounded-
    bucket contract. State size is O(keys x occupied buckets), not
    O(rows)."""
    w = int(width)
    return df.groupBy(
        F.col(key_col).alias("key"),
        F.expr(f"({cents_col} - pmod({cents_col}, {w})) DIV {w}").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def merge_quantile_state(state_df: DataFrame, batch_state: DataFrame) -> DataFrame:
    """Fold a batch's histogram into the stored one: counts add per
    (key, bucket) — exact, order-free, the materialized-view contract
    (history never re-read; cost O(batch buckets + touched buckets))."""
    return (
        state_df.unionByName(batch_state)
        .groupBy("key", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def quantiles_from_state(
    state: DataFrame, probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    width: int = 100_000,
) -> DataFrame:
    """Resolution-bounded quantiles from the histogram state: for each p,
    the smallest bucket whose cumulative count reaches ceil(p*n); output
    is the bucket lower bound in cents (exact long — the probe is pure
    integer arithmetic plus one well-defined CEIL per prob, so results
    hash-check with no tolerance)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("key")
    c = state.select(
        "key",
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for p in probs:
        tag = str(int(round(p * 100)))
        target = F.ceil(F.lit(float(p)) * F.col("n"))
        aggs.append(
            (
                F.min(F.when(F.col("cum") >= target, F.col("bucket")))
                * int(width)
            ).cast("long").alias(f"p{tag}_cents_lo")
        )
    return c.groupBy("key").agg(*aggs)


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta rules)


def join_view(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """Initial materialization of the equi-join view A |x| B on `key`.

    The join complement of agg_state/quantile_state: together they
    cover the two shapes real materialized views are made of (the
    Vertica/Materialize/DBSP "incremental view maintenance" core).
    """
    return a.join(b, key)


def join_view_delta(
    a_old: DataFrame,
    b_old: DataFrame,
    da: DataFrame,
    db: DataFrame,
    key: str,
) -> DataFrame:
    """The exact delta of the join view under append-only inserts:

        d(A |x| B)  =  dA |x| (B u dB)   u   A |x| dB

    (the standard bilinear delta rule; the dA|x|dB cross term is folded
    into the first leg so each inserted pair appears EXACTLY once).
    Appending this to the stored view reproduces (A u dA) |x| (B u dB)
    with no re-join of history against history.

    Scale shape: deltas are the small side, so both legs broadcast the
    delta — the stored sides are SCANNED but never SHUFFLED, and with a
    key-bucketed/sorted layout (sources/layout.py) the scan itself
    prunes to the buckets the delta's keys hash to, making maintenance
    O(|delta| + touched buckets), the materialized-view contract.
    Updates/deletes ride the same rule with signed multiplicities —
    here append-only, matching the upsert/SCD2 seam documented in
    sources/versioned.py.
    """
    leg1 = b_old.unionByName(db).join(F.broadcast(da), key)
    leg2 = a_old.join(F.broadcast(db), key)
    return leg1.select(*leg2.columns).unionByName(leg2)


def merge_join_view(view: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta into the stored view (append-only union; column
    order normalized by name)."""
    return view.unionByName(delta.select(*view.columns))
