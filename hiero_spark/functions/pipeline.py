"""Dataset-assembly operators for training-data pipelines (extends
SURVEY.md §2.11): deterministic splits, vocabulary building, benchmark
decontamination, and PII scrubbing.

Everything is Catalyst expressions + joins — no Python in the hot path.
Scale notes per operator:

- splits are a pure narrow map (one pmod per row; no shuffle);
- the vocabulary build is explode -> partial+final count (map-side combine
  takes the shuffle down to distinct tokens per partition, not token
  occurrences);
- decontamination (`contaminated_docs`) semi-joins eval grams against
  the distinct train grams, keyed either by the shingle strings (exactly
  SQL-oracle-reproducible) or, with `hashed=True`, by xxhash64(shingle)
  longs — fixed-width 8-byte shuffle keys, the 100 TB shape, accepting
  the ~2^-64 per-pair false-positive rate;
- PII scrubbing is a per-row regexp pass (codegen'd, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hiero_spark.functions._fanout import fan_out as _fan_out
from hiero_spark.functions.dedup import shingle_array, shingle_hash_array

SPLIT_TRAIN, SPLIT_VAL, SPLIT_TEST = "train", "val", "test"

# RFC-ish email and E.164-ish phone patterns — deliberately simple and
# deterministic; precision over recall.  The phone pattern requires a
# phone SHAPE, not just a digit run: either compact +international, or
# >=2 separator-delimited digit groups after an optional country/area
# part, with >=7 digits overall, minus the two ISO-ish date shapes
# (y-m-d / d-m-y).  Bare digit runs ("12345678") and dates ("2026-08-13",
# "2026 08 13") are NOT redacted — they are overwhelmingly ids/dates in a
# training corpus, and redacting them destroys data.  Java regex
# (Spark-side only; scrub_pii has no SQL oracle), so lookarounds are
# available.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = (
    r"(?<![0-9])"
    r"(?!\d{4}[-. ]\d{1,2}[-. ]\d{1,2}(?![0-9]))"  # 2026-08-13 / 2026 08 13
    r"(?!\d{1,2}[-. ]\d{1,2}[-. ]\d{4}(?![0-9]))"  # 13.08.2026
    r"(?=(?:[-+.() ]*\d){7})"                       # >=7 digits in the run
    r"(?:\+\d{7,15}"                                # compact +15551234567
    r"|\+?(?:\(\d{1,4}\)|\d{1,4})(?:[-. ]?\(\d{1,4}\)|[-. ]\d{2,4}){2,5})"
    r"(?![0-9])"
)


def assign_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    buckets: int = 100,
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment from a stable integer id.

    Uses pmod(id, buckets) so the DuckDB oracle can mirror it; production
    pipelines hash first (`hash_split`) so clustered id ranges can't skew
    a split. Assignment is stable under reruns and across engines — the
    property that makes the split auditable."""
    b = F.pmod(F.col(id_col), F.lit(buckets))
    split = (
        F.when(b < train_pct, SPLIT_TRAIN)
        .when(b < train_pct + val_pct, SPLIT_VAL)
        .otherwise(SPLIT_TEST)
    )
    return df.withColumn(out, split)


def cluster_safe_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    buckets: int = 100,
    out: str = "split",
) -> DataFrame:
    """Leakage-safe split: assignment at DUPLICATE-CLUSTER granularity.

    A per-document split leaks whenever copies of the same text land in
    different splits (train/test contamination through duplicates — the
    eval-hygiene failure exact dedup exists to prevent, reproduced at
    split time).  Here every document inherits the split of its exact-
    duplicate cluster's representative (min id over the md5(text)
    fingerprint group), so a text and all its copies are always on the
    same side of the split boundary.

    Scale shape: one (fingerprint, id) groupBy for the representatives,
    one fingerprint-keyed join back — the exact_dedup shuffle pattern;
    the split itself stays a narrow pmod map on the representative id.
    Production near-dup-safe variants substitute the MinHash cluster id
    for the fingerprint; the contract is the same.
    """
    fp = F.md5(F.col(text_col)).alias("_fp")
    reps = (
        df.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias("_rep"))
    )
    b = F.pmod(F.col("_rep"), F.lit(buckets))
    split = (
        F.when(b < train_pct, SPLIT_TRAIN)
        .when(b < train_pct + val_pct, SPLIT_VAL)
        .otherwise(SPLIT_TEST)
    )
    return (
        df.withColumn("_fp", F.md5(F.col(text_col)))
        .join(reps, "_fp")
        .withColumn(out, split)
        .drop("_fp")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    buckets: int = 100,
    out: str = "split",
) -> DataFrame:
    """assign_split over xxhash64(id): unbiased under any id distribution."""
    b = F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets))
    split = (
        F.when(b < train_pct, SPLIT_TRAIN)
        .when(b < train_pct + val_pct, SPLIT_VAL)
        .otherwise(SPLIT_TEST)
    )
    return df.withColumn(out, split)


def token_vocab(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Top-k corpus vocabulary by token frequency (whitespace tokens,
    lowercased). Partial+final count then TakeOrderedAndProject; ties break
    on the token for a deterministic result."""
    toks = df.select(
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(k)
    )


def _gram_stream(df: DataFrame, text_col: str, id_col: str, k: int,
                 hashed: bool) -> DataFrame:
    """(doc, gram): one row per distinct word k-gram of each document —
    the gram string, or its xxhash64 long when `hashed`.  The narrow scan
    is fanned out first: shingling is the CPU-dominant map work."""
    grams = (
        shingle_hash_array(F.col(text_col), k)
        if hashed
        else shingle_array(F.col(text_col), k)
    )
    return _fan_out(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(grams).alias("gram")
    )


def contaminated_docs(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """Benchmark decontamination: eval docs sharing ANY word k-gram with the
    training corpus. Shingle both sides (same shingling as MinHash dedup),
    distinct the train side, one semi-join. Returns distinct eval ids.

    `hashed=True` shingles both sides straight to xxhash64 longs
    (`shingle_hash_array`) and semi-joins on the hashes — no gram string
    ever reaches a shuffle.  A false positive needs a 64-bit collision
    between an eval gram and any train gram (~2^-64 per pair), which
    does not change the doc-id set at any realistic corpus size, so the
    string form's SQL oracle verifies this one too.  This is the form to
    run at 100 TB: fixed-width long keys cut shuffle bytes (a 3-gram
    string averages ~20 bytes; the hash is 8) and compare in constant
    time.

    The semi-join is the whole operator at every scale: the planner
    broadcasts the distinct train grams when they are small and
    shuffles both sides otherwise.  The broadcast Bloom probe
    (`bloom.contaminated_docs_bloom`) is a separate operator, not a
    pre-filter of this one."""
    ev = _gram_stream(eval_df, text_col, id_col, k, hashed)
    tr_grams = _gram_stream(train_df, text_col, id_col, k, hashed).select("gram")
    return (
        ev.join(tr_grams.distinct(), "gram", "left_semi")
        .select(F.col("doc").alias(id_col))
        .distinct()
    )


def pack_into_bins(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    budget: int,
    shards: int = 8,
) -> DataFrame:
    """Token-budget packing — the concat-then-chunk shape pretraining
    pipelines use to fill fixed context windows: documents are laid out in
    a deterministic order, each starts at its running token offset, and
    its bin is floor(start_offset / budget).  A document straddling a
    boundary belongs to the bin it starts in (the chunker splits it there).

    Scale shape: packing is inherently sequential, so it is SHARDED —
    pmod(id, shards) partitions the corpus, each shard packs
    independently under one window (partitionBy shard, orderBy id).  The
    shuffle moves (id, weight) pairs only, parallelism = shards; at 100 TB
    you raise `shards` to O(cluster cores) and bins stay reproducible
    because shard assignment and intra-shard order are pure functions of
    the id.  A single global window (shards=1) would serialize the whole
    corpus through one task.

    Output: id, shard, bin_id (bin numbering is per shard).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("shard", F.pmod(F.col(id_col), F.lit(shards)))
        .withColumn("_start", F.coalesce(F.sum(weight_col).over(w), F.lit(0)))
        .withColumn("bin_id", F.floor(F.col("_start") / budget))
        .select(id_col, "shard", "bin_id")
    )


def mixture_sample(
    df: DataFrame, domain_col: str, fractions: dict[str, float], seed: int = 42
) -> DataFrame:
    """Domain-mixture sampling: draw each domain (language, source, ...) at
    its own rate to hit a target mix — `sampleBy`, a narrow per-row op (no
    shuffle; each row keeps or drops itself by its domain's coin).  The
    standard up/down-weighting step when assembling a training mix from
    imbalanced sources."""
    return df.sampleBy(domain_col, fractions, seed)


# Knuth's multiplicative constant and a large prime modulus: a mirrorable
# pseudorandom permutation key (plain integer arithmetic exists in every
# SQL engine, unlike xxhash64). Values stay < 2^63 for ids < ~2.1e9;
# production corpora with wider id spaces use shuffle_key(mirrorable=False).
_LCG_MULT = 2654435761
_LCG_MOD = 4294967291


def shuffle_key(id_col: Column, seed: int = 0, mirrorable: bool = True) -> Column:
    """Deterministic pseudorandom sort key for a stable integer id.

    mirrorable=True uses a multiplicative-hash permutation DuckDB can
    recompute exactly (the cross-engine-checkable form); False uses
    xxhash64(id, seed) — 64-bit mixing for production id spaces, not
    SQL-mirrorable. The seed offsets the id BEFORE the multiplication:
    (id + seed) * M mod p. An additive-after form (id*M + seed) shifts
    every key by the same constant, which preserves the relative order
    almost everywhere — the determinism property test caught seeds 3 and
    4 producing the identical sample. Ties (the modulus collides ids 2^32
    apart) break on the id itself downstream, keeping the order total."""
    if mirrorable:
        return F.pmod(
            (id_col.cast("long") + F.lit(seed)) * F.lit(_LCG_MULT), F.lit(_LCG_MOD)
        )
    return F.xxhash64(id_col, F.lit(seed))


def global_shuffle(df: DataFrame, id_col: str, seed: int = 0,
                   mirrorable: bool = True) -> DataFrame:
    """Deterministic global shuffle — the required last step before
    training-example export (clustered sources otherwise feed the model
    long runs of one domain).

    orderBy on the pseudorandom key is a range-partitioned sort (Spark
    samples key boundaries, then sorts partitions independently — the
    terasort shape), so it scales to any corpus size without a single
    reduce point; determinism comes from the key being a pure function of
    (id, seed), so re-runs and engines agree row-for-row."""
    return df.orderBy(
        shuffle_key(F.col(id_col), seed, mirrorable).asc(), F.col(id_col).asc()
    )


def chunk_documents(
    df: DataFrame, text_col: str, id_col: str,
    chunk_tokens: int = 128, overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the standard
    pre-embedding / pre-training step for long documents).

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens); stride =
    chunk_tokens - overlap; the last chunk is the final partial window.
    Pure codegen exprs — split once, posexplode a chunk-index sequence,
    slice the token array per chunk — so the op is a narrow per-row
    fan-out: no shuffle, parallel per input split, and the token array is
    built once per document, not once per chunk."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    with_toks = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks"), n_chunks.alias("_nc")
    )
    exploded = with_toks.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id", "_i"),
        F.col("_toks"),
    )
    chunk = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


def stratified_sample(
    df: DataFrame, strata_col: str, id_col: str, n_per_stratum: int,
    seed: int = 0,
) -> DataFrame:
    """Exact-quota stratified sample: the n_per_stratum pseudorandom-first
    rows of every stratum (language, source, quality band...).

    sampleBy (mixture_sample) gives RATE-based draws with binomial
    wobble; dataset cards and eval sets need exact counts.  The draw
    ranks each stratum by the deterministic shuffle_key: reproducible
    across runs and engines.

    Scale shape: ranking runs through grouped_topk's salted two-phase window, so a
    pathologically hot stratum (half the corpus is English) fans over
    n_salt tasks in phase 1 and only quota*n_salt survivors reach the
    per-stratum final rank — the textbook single-window form serializes
    the whole stratum onto one task and buffers it to rank it."""
    from hiero_spark.operators.grouptopk import grouped_topk

    key = shuffle_key(F.col(id_col), seed)
    return grouped_topk(
        df.withColumn("_sk", key),
        strata_col,
        [F.col("_sk").asc(), F.col(id_col).asc()],
        salt_col=id_col,
        k=int(n_per_stratum),
    ).drop("_sk", "rank")


def scrub_pii(df: DataFrame, text_col: str, out: str = "clean_text") -> DataFrame:
    """Redact emails/phones; keep per-row hit counts for audit columns."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).cast("long")
    n_phones_src = F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))).cast("long")
    cleaned = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.withColumn("n_emails", n_emails).withColumn(
        "n_phones", n_phones_src
    ).withColumn(out, cleaned)
