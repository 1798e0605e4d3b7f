"""Exact set-similarity self-join with prefix filtering (PPJoin family).

MinHash/LSH (functions/dedup.py) answers "probably similar" with tunable
recall; this answers EXACT Jaccard >= t, the verification-grade join a
curation pipeline runs on LSH survivors or directly when exactness is
required (eval-set hygiene, licensing dedup). The naive form is the
all-pairs O(N²) token-set comparison; prefix filtering is the classic
bound (Chaudhuri et al. SSJoin / Xiao et al. PPJoin):

  order every document's distinct tokens by GLOBAL frequency (rarest
  first, ties by token); two sets with Jaccard >= t must share at least
  one token inside their first |d| - ceil(t*|d|) + 1 ordered tokens.

So candidates are generated ONLY from prefix tokens — and because
prefixes are the rarest tokens, the per-token candidate lists are the
SHORT posting lists; the hot head of the Zipf curve never joins. The
shuffle moves (prefix-token, doc) pairs, bounded by sum of prefix
lengths ~ (1-t)*corpus tokens, not the corpus squared.

Cross-engine exactness: intersections/unions are integer counts over
distinct token sets; Jaccard is one double division per surviving pair.
The frequency order is made total by the (df, token) tiebreak, so both
engines build identical prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hiero_spark.functions._fanout import fan_out as dd_fan_out
from hiero_spark.functions.dedup import (
    shingle_array as dd_shingle_array,
    shingle_hash_array as dd_shingle_hash_array,
)

# The persist inside _collapsed_sized is load-bearing (4 consumers read
# each `sized`; without it Spark recomputes the shingle->df->sort->collapse
# chain per consumer, measured 154 s -> 68 s at the 1M-doc skew corpus) but
# invisible to callers — long-lived drivers must be able to release it.
# The shared tracker (functions/_cachetrack.py) owns the registry;
# release_caches is re-exported here for the operator's users.
from hiero_spark.functions._cachetrack import (
    persist_tracked as _persist_tracked,
    release_caches,
)


def _collapsed_sized(
    docs: DataFrame,
    threshold: float,
    k: int,
    text_col: str,
    id_col: str,
    hashed: bool,
    expand: bool,
) -> DataFrame:
    """Shared head of the set-similarity pipelines: shingle, order tokens
    rarest-first, collapse IDENTICAL shingle sets to one representative,
    size prefixes.  Returns one row per DISTINCT set with columns
    (sd, id, n_ids, [ids], s, prefix) — sd/prefix keep (df, tok) structs
    so posting sides can prune df==1 tokens without a second corpus pass.

    The collapse: a doc that is pure boilerplate has nothing but hot
    tokens, so its prefix is unavoidably hot — g verbatim copies
    generate g*df candidates and g^2 verify rows for what is ONE
    set-level relationship.  Grouping by
    the ordered array costs one shuffle of the same (id, sd) volume the
    ordered agg already produced, and turns the hot-copy regime from
    O(copies * df) into O(df): measured 525M -> 100k candidates on a
    1M-doc containment skew corpus and g^2/2 -> 0 hot-clique candidates
    on the jaccard one (the last recorded skew runs:
    ``git show 7c4706a:BENCH_DETAIL.json``, keys containment_skew and
    jaccard_skew).
    (df is a function of tok, so grouping by sd == grouping by the set.)

    Persisted via _persist_tracked: the prefix side(s), posting side, and
    both verify joins all read the result — long-lived callers should
    release_caches() after their final action."""
    toks = (
        dd_shingle_hash_array(F.col(text_col), k)
        if hashed
        else dd_shingle_array(F.col(text_col), k)
    )
    # the (id, shingle-array) relation feeds BOTH the df aggregation and
    # the ordered-array rebuild below; without a persist each branch
    # re-runs the shingle expression (regex split + k-fold zip_with +
    # array_distinct over every document) — the CPU-dominant map work of
    # the whole operator, paid twice (measured: the doubled shingling
    # was ~1/3 of n1_containment_join's wall time at sf0.1)
    # fan out before the map-heavy shingle projection (the
    # minhash_near_dups contract): a single-file local scan arrives as
    # ONE partition, which would serialize the dominant map stage onto
    # one core; a no-op on a real multi-file corpus
    sets = _persist_tracked(
        dd_fan_out(docs.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
        .select("id", toks.alias("s"))
    )
    flat = sets.select("id", F.explode("s").alias("tok"))
    dfreq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        flat.join(dfreq, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("sd"))
    )
    aggs = [F.min("id").alias("id"), F.count(F.lit(1)).alias("n_ids")]
    if expand:
        # member lists ride ONLY the expansion join (one task holds one
        # group's ids: bounded by the largest duplicate cluster — use
        # expand=False at extreme duplication, where materializing the
        # g^2 member-level pairs is itself the non-scalable step)
        aggs.append(F.collect_list("id").alias("ids"))
    tt = float(threshold)
    return _persist_tracked(
        ordered.groupBy("sd")
        .agg(*aggs)
        .select(
            "*",
            F.transform("sd", lambda x: x["tok"]).alias("s"),
            F.slice(
                "sd",
                1,
                F.greatest(
                    F.lit(1),
                    (F.size("sd") - F.ceil(F.size("sd") * F.lit(tt)) + 1)
                    .cast("int"),
                ),
            ).alias("prefix"),
        )
    )


def _jaccard_prepared(
    docs: DataFrame,
    threshold: float,
    k: int,
    text_col: str,
    id_col: str,
    hashed: bool,
    expand: bool,
) -> tuple[DataFrame, DataFrame]:
    """(collapsed sized groups, deduped candidate GROUP pairs) for the
    symmetric Jaccard join.  Candidates are generated prefix x prefix
    (the PPJoin symmetric bound: two sets with J >= t must share a token
    inside BOTH prefixes under the same global order), pruned by the
    two-sided length filter, over DISTINCT sets only."""
    sized = _collapsed_sized(docs, threshold, k, text_col, id_col, hashed, expand)
    # df==1 tokens appear in exactly one doc (duplicates only inflate df
    # upward), so they can never link two DISTINCT sets — pruning them
    # from both prefix sides is sound and drops the unique-token bulk of
    # the corpus from the self-join.  Candidate generation moves
    # (tok, id, |d|) triples ONLY — the full shingle arrays never ride
    # the hot self-join; they join back onto the deduped pair list.
    pre = sized.select(
        "id",
        F.size("sd").alias("n"),
        F.explode("prefix").alias("p"),
    ).filter(F.col("p.df") >= 2).select("id", "n", F.col("p.tok").alias("tok"))
    a = pre.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), "tok")
    b = pre.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), "tok")
    # PPJoin length filter — sound pruning before the pair dedup/verify:
    # J(a,b) >= t forces t*|b| <= |a| (and symmetrically), so pairs whose
    # set sizes are too far apart never even form a candidate.  Same-size
    # hot groups pass this filter verbatim (g copies -> g^2/2
    # candidates); the identical-set collapse in _collapsed_sized removes
    # them before this join runs.
    tt = float(threshold)
    pairs = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("n_a") >= F.ceil(F.col("n_b") * F.lit(tt)))
            & (F.col("n_b") >= F.ceil(F.col("n_a") * F.lit(tt)))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return sized.drop("sd", "prefix"), pairs


def jaccard_candidates(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Deduped candidate GROUP pairs before verification — the
    candidate volume that the prefix+length filters and the identical-set
    collapse bound, exposed for tests and skew diagnostics."""
    _sized, pairs = _jaccard_prepared(
        docs, threshold, k, text_col, id_col, hashed, expand=False
    )
    return pairs


def _verify_rows(
    docs: DataFrame, sized: DataFrame, pairs: DataFrame, expand: bool
) -> DataFrame:
    """Join the deduped candidate GROUP pairs back to both groups' arrays:
    (id_a, id_b, s_a, n_ids_a[, ids_a], s_b, n_ids_b[, ids_b]) — the input
    of both joins' verify step.

    The pair list is re-widened first: the pair-dedup shuffle is a few
    bytes per pair, so AQE's byte-targeted coalescing collapses it to one
    partition — and then the verify stage (array joins + per-pair
    array_intersect, the CPU-dense step) runs on ONE task.  A keyed
    repartition to the session's parallelism costs one narrow shuffle of
    (id_a, id_b) longs and spreads the verify across the cluster; at
    100 TB the pair list is large enough that AQE would keep it wide
    anyway and this is a no-op-sized exchange on 16-byte rows.  Measured
    at sf0.1: verify chain 4.0 s -> 1.35 s."""
    pairs = pairs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "id_a"
    )
    extra = ["ids"] if expand else []

    def side(tag: str) -> DataFrame:
        return sized.select(
            F.col("id").alias(f"id_{tag}"), F.col("s").alias(f"s_{tag}"),
            F.col("n_ids").alias(f"n_ids_{tag}"),
            *[F.col(c).alias(f"{c}_{tag}") for c in extra],
        )

    return pairs.join(side("a"), "id_a").join(side("b"), "id_b")


def jaccard_join(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    expand_identical: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) with exact word-k-gram-set Jaccard >=
    threshold. Returns (id_a, id_b, n_common, n_union, jaccard to 6).

    Sets are k-gram SHINGLES (the dedup-family convention), not unigrams:
    on a small-vocabulary corpus unigram sets saturate (measured at
    sf0.01: 113k candidates / 9k "pairs" at t=0.9 over unigrams vs
    25 candidates = 25 true pairs at t=0.8 over 3-grams — the shingle
    space is where prefix filtering actually prunes).

    Identical shingle sets are collapsed to one representative before any
    candidate is generated (the same collapse containment_join and
    entity resolution use).  g verbatim copies of a document would pass
    the length filter verbatim and generate g^2/2 candidate AND verify
    pairs; collapsed, the duplicate group contributes ONE
    representative to candidate generation and its intra-group clique is
    emitted arithmetically.

    ``expand_identical=True`` (default) keeps the historical member-level
    contract: every (id_a < id_b) pair with J >= t, including the
    g*(g-1)/2 intra-group pairs at jaccard exactly 1.0.  The expansion is
    quadratic in OUTPUT by contract, not in shuffle or verify work.

    ``expand_identical=False`` is the extreme-duplication arm: GROUP-level
    rows — representative ids with ``count_a``/``count_b`` multiplicities,
    plus one self-row (id_a == id_b) per duplicate group standing for its
    intra-group clique (jaccard 1.0, n_common = n_union = |s|).

    ``hashed=True`` is the 100 TB arm: shingles become xxhash64 longs
    (functions/dedup.py:shingle_hash_array) before anything shuffles, so
    the df aggregation, the prefix self-join, and the verify arrays all
    move 8-byte longs instead of ~(k x word) strings — identical pairs
    modulo 2^-64 hash collisions (the dedup-family argument), pinned
    equal to the string arm in tests. The string arm stays the
    oracle-bearing one (DuckDB has no xxhash64). Measured at sf0.1:
    identical 256 pairs, shuffle 4.4 MB vs 6.4 MB (31% lower) and
    2.7 s vs 3.7 s warm — and the gap widens with word length (this
    corpus's words are short; real text shingles are ~3x longer)."""
    tt = float(threshold)
    sized, pairs = _jaccard_prepared(
        docs, threshold, k, text_col, id_col, hashed, expand=expand_identical
    )
    cand = _verify_rows(docs, sized, pairs, expand_identical)
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    jac = inter.cast("double") / union.cast("double")
    # gate on the RAW ratio (identical IEEE division both engines);
    # round only for display
    inter_groups = cand.filter(jac >= tt).select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common"),
        union.cast("long").alias("n_union"),
        F.round(jac, 6).alias("jaccard"),
        F.col("n_ids_a").alias("count_a"),
        F.col("n_ids_b").alias("count_b"),
        *([F.col("ids_a"), F.col("ids_b")] if expand_identical else []),
    )
    # identical nonempty sets have Jaccard exactly 1.0: one clique per
    # duplicate group
    dup_groups = sized.filter(F.col("n_ids") > 1).select(
        F.col("id").alias("id_a"),
        F.col("id").alias("id_b"),
        F.size("s").cast("long").alias("n_common"),
        F.size("s").cast("long").alias("n_union"),
        F.lit(1.0).alias("jaccard"),
        F.col("n_ids").alias("count_a"),
        F.col("n_ids").alias("count_b"),
        *([F.col("ids").alias("ids_a"), F.col("ids").alias("ids_b")]
          if expand_identical else []),
    )
    if not expand_identical:
        return inter_groups.unionByName(dup_groups)
    # cross-group member pairs: group reps were ordered rep_a < rep_b, but
    # individual members need not be — restore the id_a < id_b contract
    # per member pair (jaccard is symmetric, so values carry over)
    expanded_inter = (
        inter_groups.withColumn("ma", F.explode("ids_a"))
        .withColumn("mb", F.explode("ids_b"))
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "n_common",
            "n_union",
            "jaccard",
        )
    )
    expanded_dup = (
        dup_groups.withColumn("ma", F.explode("ids_a"))
        .withColumn("mb", F.explode("ids_b"))
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("id_a"),
            F.col("mb").alias("id_b"),
            "n_common",
            "n_union",
            "jaccard",
        )
    )
    return expanded_inter.unionByName(expanded_dup)


def _containment_prepared(
    docs: DataFrame,
    threshold: float,
    k: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate pipeline: (sized distinct-set groups, deduped
    candidate GROUP pairs).  See containment_join for the algorithm;
    shingling, rarest-first ordering, identical-set collapse, and prefix
    sizing live in _collapsed_sized (shared with the Jaccard join)."""
    sized = _collapsed_sized(
        docs, threshold, k, text_col, id_col, hashed=False, expand=True
    )
    tt = float(threshold)
    # df==1 tokens appear in exactly one doc, so they can only ever match
    # their own set — pruning them from BOTH posting sides is sound (a
    # cross-pair shares a token with df >= 2) and removes the unique-token
    # bulk of the corpus from the join: the B side posts hot+shared tokens
    # only, not one row per shingle
    a = sized.select(
        F.col("id").alias("id_a"),
        F.size("sd").alias("n_a"),
        F.explode("prefix").alias("p"),
    ).filter(F.col("p.df") >= 2).select("id_a", "n_a", F.col("p.tok").alias("tok"))
    b = sized.select(
        F.col("id").alias("id_b"),
        F.size("sd").alias("n_b"),
        # full postings: no sound B-side prefix exists
        F.explode(F.filter("sd", lambda x: x["df"] >= 2)).alias("p"),
    ).select("id_b", "n_b", F.col("p.tok").alias("tok"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("n_b") >= F.ceil(F.col("n_a") * F.lit(tt)))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return sized.drop("sd", "prefix"), pairs


def containment_candidates(
    docs: DataFrame,
    threshold: float = 0.9,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deduped candidate GROUP pairs before verification — the
    candidate volume that the prefix filter and the identical-set collapse
    bound, exposed for tests and skew diagnostics."""
    _sized, pairs = _containment_prepared(docs, threshold, k, text_col, id_col)
    return pairs


def containment_join(
    docs: DataFrame,
    threshold: float = 0.9,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directional set-CONTAINMENT join: all ordered pairs (a != b) where
    |A n B| / |A| >= threshold over word-k-gram shingle sets — the
    quote/excerpt/boilerplate-inclusion detector Jaccard structurally
    misses (a 50-shingle snippet verbatim inside a 5000-shingle page has
    containment 1.0 but Jaccard ~0.01). Returns (id_a, id_b, n_common,
    n_a, containment): "a is t-contained in b".

    Prefix filtering adapts asymmetrically (Chaudhuri et al. SSJoin):
    |A n B| >= t*|A| forces A to share a token within its first
    |A| - ceil(t*|A|) + 1 RAREST-ordered tokens, so only A-side prefixes
    generate candidates — but no symmetric bound exists for B (B may
    contain A's rare tokens anywhere), so the B side posts its full
    token list. The scale contract: join keys are exclusively A-PREFIX
    tokens (globally rarest by construction), so candidate volume is
    bounded by sum_{tok in prefixes} df(tok) over DISTINCT sets —
    identical sets are collapsed to one representative first (see
    _containment_prepared), which closes the pure-boilerplate hole where
    a hot snippet's verbatim copies each carried a hot prefix token.
    The length filter |B| >= t*|A| prunes before pair dedup; arrays join
    back once per side onto the deduped pair list (`_verify_rows`, shared
    with jaccard_join).  Each verified group pair then expands to its
    member-level pairs, and each duplicate group to its intra-group
    clique."""
    tt = float(threshold)
    sized, pairs = _containment_prepared(docs, threshold, k, text_col, id_col)
    cand = _verify_rows(docs, sized, pairs, expand=True)
    inter = F.size(F.array_intersect("s_a", "s_b"))
    cont = inter.cast("double") / F.size("s_a").cast("double")
    inter_groups = cand.filter(cont >= tt).select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common"),
        F.size("s_a").cast("long").alias("n_a"),
        F.round(cont, 6).alias("containment"),
        "ids_a",
        "ids_b",
    )
    # identical nonempty sets are mutually contained: one clique per
    # duplicate group (containment exactly 1.0, n_common = n_a = |s|)
    dup_groups = sized.filter(F.col("n_ids") > 1).select(
        F.col("id").alias("id_a"),
        F.col("id").alias("id_b"),
        F.size("s").cast("long").alias("n_common"),
        F.size("s").cast("long").alias("n_a"),
        F.lit(1.0).alias("containment"),
        F.col("ids").alias("ids_a"),
        F.col("ids").alias("ids_b"),
    )
    out_cols = ["id_a", "id_b", "n_common", "n_a", "containment"]
    expanded_inter = (
        inter_groups.withColumn("id_a", F.explode("ids_a"))
        .withColumn("id_b", F.explode("ids_b"))
        .select(*out_cols)
    )
    expanded_dup = (
        dup_groups.withColumn("member_a", F.explode("ids_a"))
        .withColumn("member_b", F.explode("ids_b"))
        .filter(F.col("member_a") != F.col("member_b"))
        .select(
            F.col("member_a").alias("id_a"),
            F.col("member_b").alias("id_b"),
            "n_common",
            "n_a",
            "containment",
        )
    )
    return expanded_inter.unionByName(expanded_dup)
