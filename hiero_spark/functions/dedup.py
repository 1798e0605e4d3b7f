"""Deduplication operators for training-data pipelines (SURVEY.md §2.11 N1).

Scale design:
- Exact dedup = hash groupBy on a fingerprint — one shuffle of (hash, id),
  never of document bodies.
- MinHash+LSH near-dup: shingle → 64 minhashes → 16 bands → per-band
  bucket self-join → exact-Jaccard verify. Signatures are computed as pure
  per-row array expressions (array_min over transform+xxhash64) — the
  whole candidate-generation prefix is shuffle-free projection; the only
  shuffles are the band-bucket join (keys + 8-byte signatures, never
  bodies) and the verify join (shingle arrays for candidates only).
- Skew guard: a degenerate bucket of B docs emits B² pairs; `max_bucket`
  caps it (the 100 TB failure mode).
- All hashing is xxhash64 — JVM-side codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hiero_spark.functions._fanout import fan_out
from hiero_spark.functions.text import fingerprint


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content fingerprint."""
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .drop("_fp")
        .select("keep_id", "dup_count")
    )


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization for dedup keys — the one dedup axis real web
    corpora lean on hardest: the same page arrives under http/https,
    with/without www, with tracking params, fragments, and trailing
    slashes. Produces a canonical KEY (not a fetchable rewrite):
    lowercase, fragment dropped, utm_* params dropped, scheme and leading
    www. stripped, trailing slash stripped. Pure codegen'd regex chain —
    no shuffle; the dedup that follows is the same one-groupBy shape as
    exact_dedup."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"#.*$", "")        # fragment
    u = F.regexp_replace(u, r"utm_[^&#]*&", "") # utm param followed by more
    u = F.regexp_replace(u, r"[?&]utm_[^&#]*$", "")  # utm as last param
    # (...)+: repeated prefixes/slashes collapse in ONE pass, keeping the
    # canonical form a fixed point — canonicalize(canonicalize(u)) ==
    # canonicalize(u), property-tested (hypothesis found 'x.com//' needing
    # two passes under the /$ form)
    u = F.regexp_replace(u, r"^(https?://)+", "")
    u = F.regexp_replace(u, r"^(www\.)+", "")
    u = F.regexp_replace(u, r"/+$", "")
    return u


def url_domain(canon_url: Column) -> Column:
    """Domain of an already-canonicalized URL (host part up to / or ?)."""
    return F.regexp_extract(canon_url, r"^([^/?]*)", 1)


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per canonical URL; also reports the
    domain for per-site rollups. Identical scale shape to exact_dedup: one
    shuffle of (canonical_url, id) — document bodies never move."""
    canon = canonicalize_url(F.col(url_col))
    return (
        df.withColumn("canon_url", canon)
        .withColumn("domain", url_domain(F.col("canon_url")))
        .groupBy("canon_url", "domain")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame, text_col: str, id_col: str, min_docs: int = 5
) -> DataFrame:
    """Cross-document boilerplate removal (CCNet-style line dedup): drop
    every line that appears in >= min_docs DISTINCT documents (cookie
    banners, nav bars, copyright footers), reconstruct each doc's
    remaining lines in original order. Returns (id, clean_text) for EVERY
    input doc — a doc that was pure boilerplate comes back as ''.

    Scale shape: posexplode to (id, pos, line) rows — linear in corpus
    line count; one groupBy(line) counts distinct docs (partial+final);
    one left_anti join removes hot lines; one groupBy(id) reassembles
    (array_sort on (pos, line) structs, no window). Lines shuffle as
    strings here because the DuckDB oracle must reproduce the keys
    exactly; at 100 TB shuffle xxhash64(line) longs instead, the same
    trade `contaminated_docs(hashed=True)` documents (2^-64 collision
    risk vs ~8x less shuffle traffic).
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    hot = (
        lines.groupBy("_line")
        .agg(F.count_distinct("_id").alias("_n_docs"))
        .filter(F.col("_n_docs") >= min_docs)
        .select("_line")
    )
    kept = lines.join(hot, "_line", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.array_sort(F.collect_list(F.struct("_pos", "_line"))).getField("_line"),
        ).alias("clean_text")
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def _gram_array(text: Column, k: int) -> Column:
    """Word k-grams of `text` in order, duplicates kept (no explode).

    Built by zipping k progressively-shifted views of the token array
    (zip_with pads the short side with null; concat_ws skips nulls; the
    final slice drops the ragged tail) instead of the obvious
    `transform(sequence(...), i -> slice(tokens, i, k))`. The two are
    semantically identical — including the <k-token edge case, which
    yields the whole doc as one gram — but in the transform/sequence
    form Catalyst inlines the `split` into the lambda body, re-tokenizing
    the document once per ELEMENT (interpreted HOFs get no common-
    subexpression elimination): measured 4x slower at sf0.1. Here every
    token-array reference sits outside a lambda, so the split evaluates
    per row."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n = F.size(toks)
    grams = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(1)))


def shingle_array(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as an array column (no explode) —
    the SQL-oracle-comparable form."""
    return F.array_distinct(_gram_array(text, k))


def shingle_hash_array(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as 64-bit hashes: each gram string is
    built transiently and fed to one xxhash64 — only the 8-byte longs
    leave the expression, so the array this returns is ~3x smaller to
    persist and shuffle than string shingles (measured at sf0.1), and
    downstream comparisons are fixed-width. Per-pair collision
    probability ~2^-64 shifts a Jaccard estimate by at most
    1/|shingles|, far below any useful threshold. Hashing the joined
    gram string keeps the k-tuple -> hash mapping injective up to the
    ' ' join."""
    return F.array_distinct(
        F.transform(_gram_array(text, k), lambda g: F.xxhash64(g))
    )


def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Exploded (doc, shingle) pairs — for callers that need the set form."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_array(F.col(text_col), k)).alias("shingle"),
    )


def repeated_span_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int = 16,
    max_span_docs: int = 200,
) -> DataFrame:
    """Exact long-span overlap detection (the Lee et al. 2022 'Deduplicating
    Training Data Makes Language Models Better' signal, reduced to doc
    pairs): two docs sharing ANY verbatim k-token span (k≈16-50) almost
    certainly share copied text even when whole-doc Jaccard is low — the
    case MinHash misses (a paragraph quoted inside an otherwise-unique
    doc).

    Shape: reuse the shingle machinery at large k — per-row span arrays
    (no explode until the set form), md5 each span so only 16-byte keys
    shuffle, one groupBy(span) collecting doc ids, pairs emitted within
    spans only. `max_span_docs` caps degenerate spans (a boilerplate
    sentence present in thousands of docs would emit O(n²) pairs — those
    belong to `remove_boilerplate_lines`, not pair output). Output:
    (doc_a, doc_b, n_shared_spans), doc_a < doc_b.
    """
    sp = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_array(F.col(text_col), k)).alias("_span"),
    ).select("doc", F.md5(F.col("_span")).alias("_h"))
    grouped = sp.groupBy("_h").agg(F.collect_set("doc").alias("_docs"))
    small = grouped.filter(
        (F.size("_docs") >= 2) & (F.size("_docs") <= max_span_docs)
    )
    pairs = small.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("_docs"),
                        lambda a: F.transform(
                            F.col("_docs"),
                            lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                        ),
                    )
                ),
                lambda s: s.doc_a < s.doc_b,
            )
        ).alias("_p")
    ).select("_p.doc_a", "_p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """Append an `mh` array of num_hashes minhashes to (doc, sh[array]) rows.

    Each shingle is hashed to a long ONCE (by `shingle_hash_array`, or here
    if `sh` still holds strings); the num_hashes family is derived by
    re-hashing that 8-byte long with seed i (Broder's one-base-hash
    construction). Hash work per shingle is one string walk + num_hashes
    fixed-width mixes — when `sh` is already long-typed the base pass is
    skipped entirely, since an extra long->long mix before the seeded mix
    adds work but no independence. NOTE the inner `transform(base_or_sh,
    h -> xxhash64(h, i))` is re-evaluated per i (interpreted lambdas get
    no CSE) — that is the minhash algorithm's own num_hashes x |sh| cost,
    but it is why `base` must be a cheap column reference, never an
    expression doing real work (see the shingle_array docstring for the
    same trap).
    """
    from pyspark.sql.types import LongType

    elem = docs.schema["sh"].dataType.elementType
    base = (
        F.col("sh")
        if isinstance(elem, LongType)
        else F.transform(F.col("sh"), lambda g: F.xxhash64(g))
    )
    mh = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(base, lambda h: F.xxhash64(h, i))),
    )
    return docs.select("doc", "sh", mh.alias("mh"))


def band_buckets(sig: DataFrame, num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """(doc, band, bkt): one LSH bucket row per (doc, band).

    Built in ONE expression tree (`transform` over the band index) so the
    upstream `mh` signature expression appears exactly once and is
    evaluated once per row. Building 16 separate band-struct columns
    instead looks equivalent but is ~16x slower: Catalyst's
    CollapseProject inlines the (interpreted, higher-order) minhash
    expression into every band struct — measured 204s vs 13s at sf0.1.
    Shared by within-corpus pairing (`lsh_candidate_pairs`) and the
    persistable incremental index (functions/incremental.py:lsh_index).
    """
    rows_per_band = num_hashes // bands
    bb = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.xxhash64(
                    F.slice(F.col("mh"), (b * rows_per_band + 1).cast("int"), rows_per_band)
                ).alias("bkt"),
            ),
        )
    )
    return sig.select("doc", bb.alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bkt").alias("bkt")
    )


def lsh_candidate_pairs(
    sig: DataFrame, num_hashes: int = 64, bands: int = 16, max_bucket: int = 50,
    hot_mode: str = "drop",
) -> DataFrame:
    """Banded LSH: docs sharing any band-bucket become candidate pairs
    (see band_buckets for the single-tree construction note).

    Over-cap buckets (size > max_bucket — the hot-boilerplate cluster of
    a real crawl) are handled per ``hot_mode``:

    * ``"drop"`` (default, the pinned historical behavior): the bucket's
      candidates are discarded — survival over recall.
    * ``"star"``: the bucket emits (min_doc, other) pairs only — O(B)
      candidates instead of the O(B²) clique, and instead of losing the
      cluster entirely.  Verification then scores every member against
      the bucket's first doc, and connected components / cluster_docs
      still link the whole cluster through that center.  A true
      boilerplate cluster keeps its dedup semantics at linear cost; a
      false-positive hot bucket (hash pileup of unrelated docs) is
      killed pair-by-pair by the Jaccard verify, same as any candidate.

    Both arms compute bucket stats with ONE window pass over the bucket
    rows — linear in bucket size, map-side nothing: the quadratic term
    only ever appears for buckets the cap admits.
    """
    if hot_mode not in ("drop", "star"):
        raise ValueError(f"hot_mode must be 'drop' or 'star', got {hot_mode!r}")
    buckets = band_buckets(sig, num_hashes, bands)
    w = Window.partitionBy("band", "bkt")
    stats = buckets.select(
        "doc", "band", "bkt",
        F.count(F.lit(1)).over(w).alias("bucket_size"),
        F.min("doc").over(w).alias("bucket_min"),
    )
    counted = stats.filter(F.col("bucket_size") <= max_bucket)
    a = counted.select("band", "bkt", F.col("doc").alias("doc_a"))
    b = counted.select("band", "bkt", F.col("doc").alias("doc_b"))
    clique = (
        a.join(b, ["band", "bkt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if hot_mode == "drop":
        return clique.distinct()
    star = (
        stats.filter(F.col("bucket_size") > max_bucket)
        .filter(F.col("doc") != F.col("bucket_min"))
        .select(
            F.col("bucket_min").alias("doc_a"), F.col("doc").alias("doc_b")
        )
    )
    return clique.unionByName(star).distinct()


def jaccard_verify_arrays(
    pairs: DataFrame, docs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact Jaccard for candidate pairs via array intersection.

    Shingle arrays travel only for candidate docs; at scale this is the
    cheap tail of the pipeline (candidates << corpus).
    """
    da = docs.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(da, "doc_a").join(db, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (no LSH approximation).

    Shape: explode shingles → self-join on shingle (only pairs sharing at
    least one gram exist, which is every pair with jaccard > 0) → count
    intersections → join per-doc set sizes. This is the oracle-able exact
    form; it shuffles the (doc, shingle) relation twice and its join fan-out
    is quadratic in a gram's document frequency, so at corpus scale it is
    the *verify* stage behind `minhash_near_dups`' LSH candidate filter,
    not a standalone pass.

    The (doc, shingle) relation feeds THREE consumers — the per-doc size
    aggregation and both sides of the self-join — so it is persisted
    (tracked, so long-lived drivers can release it): without it each
    branch re-runs the tokenize + k-gram + distinct chain per consumer.
    Fresh-process A/B at sf0.1 on the cluster queries built on this
    function: n1_cluster_sizes 3.95 -> 2.89 s, n1_cluster_best
    2.67 -> 2.22 s.
    """
    from hiero_spark.functions._cachetrack import persist_tracked

    sh = persist_tracked(shingles(fan_out(df, id_col), text_col, id_col, k))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 50,
    hot_mode: str = "drop",
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → Jaccard verify.

    ``max_bucket``/``hot_mode`` control hot-bucket behavior (see
    lsh_candidate_pairs): ``hot_mode="star"`` keeps boilerplate clusters
    linked at O(B) candidate cost instead of dropping them.

    The (doc, shingles) relation is persisted: it is read by candidate
    generation once and by both sides of the verify join, and shingling +
    minhashing is the CPU-dominant map work — recomputing it 3x is the
    single biggest avoidable cost. At cluster scale the same role is
    played by checkpointing the shingled corpus to storage.

    CPU-bound map work needs tasks to spread over; a small local scan can
    arrive as 1-2 partitions, so fan out to the session's parallelism when
    the scan is narrower than that (a no-op on a real multi-file corpus).
    """
    from hiero_spark.functions._cachetrack import persist_tracked

    df = fan_out(df, id_col)
    # tracked persists: load-bearing for the 3-consumer plan, releasable
    # by long-lived drivers via release_caches()
    docs = persist_tracked(df.select(
        F.col(id_col).alias("doc"), shingle_hash_array(F.col(text_col), k).alias("sh")
    ))
    sig = minhash_signatures(docs, num_hashes)
    pairs = persist_tracked(lsh_candidate_pairs(
        sig, num_hashes, bands, max_bucket, hot_mode
    ))
    return jaccard_verify_arrays(pairs, docs, threshold)
