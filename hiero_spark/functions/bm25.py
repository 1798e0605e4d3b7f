"""BM25 full-text ranking over a document corpus.

The retrieval primitive every corpus-curation and RAG pipeline needs
beside embedding ANN: score documents against a term query with
Okapi BM25 and return the top-k. Shape at 100 TB:

- the token explode is filtered to the QUERY terms before any shuffle —
  the relation that moves is (doc, query-term) hits, bounded by
  |q| * n_docs_matching, never the corpus token stream;
- per-term document frequencies aggregate from that same filtered
  relation and broadcast back (|q| rows);
- corpus stats (N, avgdl) are two scalars — one agg, O(1) driver state,
  same bounded-model contract as the classifier/PCA fits;
- top-k is orderBy+limit => TakeOrderedAndProject, never a global sort;
- for repeated querying, `save_text_index`/`bm25_topk_indexed` split
  build from probe: postings partitioned by term-hash bucket make each
  query a partition-pruned read of its own posting lists (the Lucene
  inverted-index architecture as parquet layout).

Cross-engine exactness (the tf_idf_keywords conventions,
queries/northstar.py): IDF uses the smooth RATIO
(N - df + 0.5) / (df + 0.5) rather than its ln() — +,*,/ are
IEEE-defined and bit-identical across engines while ln() is not
ulp-guaranteed — and the per-document sum over matched terms folds in
SORTED TERM ORDER via aggregate() over an array_sort'ed struct array
(the ext_ewma_levels fold pattern), so float addition order cannot
diverge between engines or partitionings. Scores are therefore
bit-identical pre-round; ROUND(6) is display only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _score_postings(
    tf: DataFrame, n_docs: float, avgdl: float, k: int, k1: float, b: float,
    id_col: str,
) -> DataFrame:
    """Top-k from a (id, dl, tok, tf) postings relation + corpus scalars —
    shared by the full-scan and index-probe paths (the index changes the
    LAYOUT, never the math, so both rank bit-identically)."""
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    contrib = tf.join(F.broadcast(dfreq), "tok").select(
        id_col,
        "tok",
        (idf * (F.col("tf") * (k1 + 1.0)) / denom).alias("c"),
    )
    scored = (
        contrib.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            # fold in sorted term order, seed 0.0: addition order is pinned
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s"),
        )
    )
    return (
        scored.orderBy(F.desc("s"), F.asc(id_col))
        .limit(k)
        .select(id_col, "n_terms", F.round("s", 6).alias("bm25"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 against `query_terms` (whitespace/lowercase
    tokenization; query terms are case-folded the same way, so 'Spark'
    matches 'spark'). Returns (id, n_terms matched, bm25 rounded to 6).

    Cache contract: each call registers ONE tracked MEMORY_AND_DISK
    persist (the metadata-slim tokenize relation below) via
    `_cachetrack.persist_tracked` — long-lived drivers must release the
    backlog with `hiero_spark.functions._cachetrack.release_caches()`
    (server.py does per request; bench.py between queries), or
    `spark.catalog.clearCache()`.  Same contract as the set-similarity
    joins (see functions/setsim.py)."""
    from hiero_spark.functions._cachetrack import persist_tracked
    from hiero_spark.functions._fanout import fan_out

    query_terms = [t.lower() for t in query_terms]
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    terms_arr = F.array(*[F.lit(t) for t in query_terms])
    # ONE tokenize pass (round 14, guide §1.2/§2.3): the corpus-stats
    # aggregate and the hits path used to each re-run the tokenize — the
    # dominant per-row cost — and a single-file corpus scans as ONE task,
    # serializing it onto one core (fan_out widens; no-op multi-file).
    # The persisted relation is metadata-slim: (id, dl, query-term hits),
    # never the text or the full token array — bounded by |q| hits/doc,
    # so the cache is payload-free at corpus scale.  filter-then-explode
    # == explode-then-isin: same (id, dl, tok) multiset.  The widening
    # repartition ships only (id, text) — round-14 ADVICE: an unpruned
    # fan_out would shuffle every column of the caller's relation.
    slim = persist_tracked(
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
            F.col(id_col),
            F.size(toks).alias("dl"),
            F.filter(toks, lambda x: F.array_contains(terms_arr, x)).alias(
                "hw"
            ),
        )
    )
    # two scalars of corpus state: N and average document length
    n_docs, total_toks = slim.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).collect()[0]
    avgdl = float(total_toks) / float(n_docs)

    hits = slim.select(id_col, "dl", F.explode("hw").alias("tok"))
    tf = hits.groupBy(id_col, "dl", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return _score_postings(tf, n_docs, avgdl, k, k1, b, id_col)


def save_text_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the inverted index: postings (id, dl, tok, tf)
    partitioned by a term-hash bucket, plus a 1-row corpus-stats table —
    the Lucene architecture re-expressed as layout (same build/probe
    split as `save_ivf` and `fit_pca_model`).

    Pay the corpus tokenize+explode ONCE at build time; every query
    afterwards is a partition-PRUNED read of the |q| buckets its terms
    hash to — the scan is bounded by the query's posting lists, never
    the corpus. The build shuffles by (bucket, id-salt) so each bucket
    directory holds few well-sized files (the save_ivf file-count
    lesson: unsalted, every input task writes a sliver into every
    bucket and probes drown in file opens)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tokenized = docs.select(F.col(id_col), toks.alias("w"))
    stats = tokenized.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("w")).cast("long").alias("total_toks"),
    )
    # positional postings (1-based positions, sorted): BM25 probes prune
    # the positions column away at the parquet scan; phrase probes read
    # it — one index serves both, paid once
    postings = (
        tokenized.select(
            id_col,
            F.size("w").alias("dl"),
            F.posexplode("w").alias("pos0", "tok"),
        )
        .groupBy(id_col, "dl", "tok")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("positions"),
        )
        .withColumn("_bucket", F.pmod(F.xxhash64("tok"), F.lit(n_buckets)))
    )
    postings.repartition(
        F.col("_bucket"), F.pmod(F.xxhash64(F.col(id_col)), F.lit(4))
    ).write.mode("overwrite").partitionBy("_bucket").parquet(f"{path}/postings")
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a `save_text_index`: read ONLY the buckets the query terms
    hash to (directory-level partition pruning — pinned on the physical
    plan in tests), filter to the exact terms, score with the shared
    BM25 core. Identical ranking to the full-scan path by construction;
    the probe's scan cost is the query's posting lists. Query terms are
    case-folded like the indexed tokens (round-7 ADVICE: a mixed-case
    query must not silently match nothing)."""
    query_terms = [t.lower() for t in query_terms]
    # ONE probe-setup job (round 15, guide §1.2): the 1-row stats read
    # and the term->bucket hash used to be separate driver round-trips
    # on every probe; the cross join of the 1-row stats table with the
    # |q|-row term frame folds them into a single collect.  Bucket
    # computation stays JVM-side — the driver must mirror xxhash64
    # exactly, and a Python reimplementation could drift.
    setup = (
        spark.read.parquet(f"{path}/stats")
        .crossJoin(
            spark.createDataFrame([(t,) for t in query_terms], "tok string")
            .select(F.pmod(F.xxhash64("tok"), F.lit(n_buckets)).alias("b"))
        )
        .collect()
    )
    if setup:
        n_docs = float(setup[0]["n_docs"])
        avgdl = float(setup[0]["total_toks"]) / n_docs
    else:
        # no query terms: the cross join is empty, so score an empty
        # postings read — same result schema as any other probe
        n_docs = avgdl = 1.0
    buckets = sorted({r["b"] for r in setup})
    tf = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("_bucket").isin(buckets))  # partition-pruned read
        .filter(F.col("tok").isin(list(query_terms)))
        .select(id_col, "dl", "tok", "tf")
    )
    return _score_postings(tf, n_docs, avgdl, k, k1, b, id_col)


def phrase_count_indexed(
    spark,
    path: str,
    phrase: list[str],
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase occurrence counts from the POSITIONAL index: read the
    phrase words' buckets (partition-pruned, same as the BM25 probe but
    WITH the positions column), group each candidate doc's per-word
    position lists into a map, and count the positions p of word 0 such
    that word j sits at p + j for every j — the classic positional-
    posting phrase intersection. Only docs containing ALL words survive
    the map_keys cardinality gate; the counting is per-row array
    arithmetic over posting lists, never a scan of document text.
    Returns (id, n_occurrences) for docs with >= 1 occurrence."""
    words = [w.lower() for w in phrase]
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(t,) for t in words], "tok string")
            .select(F.pmod(F.xxhash64("tok"), F.lit(n_buckets)).alias("b"))
            .collect()
        }
    )
    m = len(words)
    # a doc must contain every DISTINCT word (a repeated-word phrase like
    # "data data" yields one posting key, not len(phrase) of them)
    n_distinct = len(set(words))
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("_bucket").isin(buckets))
        .filter(F.col("tok").isin(words))
        .select(id_col, "tok", "positions")
    )
    by_doc = post.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "positions"))
        ).alias("pm")
    ).filter(F.size(F.map_keys(F.col("pm"))) == n_distinct)
    # occurrences: positions p of words[0] with words[j] at p+j for all j
    cond = None
    for j in range(1, m):
        term = F.array_contains(
            F.col("pm")[words[j]], F.col("p") + F.lit(j)
        )
        cond = term if cond is None else cond & term
    starts = F.col("pm")[words[0]]
    if cond is None:  # single-word phrase: every posting position counts
        n_occ = F.size(starts)
    else:
        exploded = by_doc.select(id_col, F.explode(starts).alias("p"), "pm")
        return (
            exploded.filter(cond)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        )
    return by_doc.select(id_col, n_occ.cast("long").alias("n_occurrences"))


def update_text_index(
    spark,
    path: str,
    new_docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental index maintenance: append the NEW documents' postings
    and fold their counts into the stats table — the daily-ingest twin
    of `save_text_index`, same contract as the incremental dedup
    indexes (functions/incremental.py): the corpus is never re-tokenized.

    Appends cost O(new docs); probes are unchanged (they read buckets,
    and a bucket is just more files after an append — run the existing
    small-file compaction over a bucket directory when file counts
    grow). df/idf need no stored state: they are computed at probe time
    from the (pruned) postings themselves, so an append updates ranking
    EXACTLY — probe-after-update must equal a from-scratch rebuild, and
    the test pins that equality. Caller contract: new_docs' ids are not
    already indexed (run the exact-dedup admit gate first)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tokenized = new_docs.select(F.col(id_col), toks.alias("w"))
    add = tokenized.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("w")).cast("long").alias("total_toks"),
    ).collect()[0]
    postings = (
        tokenized.select(
            id_col,
            F.size("w").alias("dl"),
            F.posexplode("w").alias("pos0", "tok"),
        )
        .groupBy(id_col, "dl", "tok")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("positions"),
        )
        .withColumn("_bucket", F.pmod(F.xxhash64("tok"), F.lit(n_buckets)))
    )
    postings.repartition(
        F.col("_bucket"), F.pmod(F.xxhash64(F.col(id_col)), F.lit(4))
    ).write.mode("append").partitionBy("_bucket").parquet(f"{path}/postings")
    old = spark.read.parquet(f"{path}/stats").collect()[0]
    import pandas as pd

    spark.createDataFrame(
        pd.DataFrame(
            {
                "n_docs": [int(old["n_docs"]) + int(add["n_docs"])],
                "total_toks": [
                    int(old["total_toks"]) + int(add["total_toks"])
                ],
            }
        )
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
