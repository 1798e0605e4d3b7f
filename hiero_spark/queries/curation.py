"""Curation-audit queries: contamination grading, entropy quality
signal, per-group selection, keep-first line dedup, and domain mixture
weights.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hiero_spark.functions import dedup as dd
from hiero_spark.functions import entropy as en
from hiero_spark.functions import fuzzy as fz
from hiero_spark.functions import incremental as inc
from hiero_spark.functions import overlap as ov
from hiero_spark.functions import paragraphs as pg
from hiero_spark.functions import pipeline as pl
from hiero_spark.functions import text as tx
from hiero_spark.functions import weights as wt
from hiero_spark.functions._fanout import fan_out
from hiero_spark.operators.grouptopk import grouped_topk
from hiero_spark.queries._util import _sf_export_dir, t
from hiero_spark.registry import query


@query(
    "n6_contamination_overlap",
    group="N6",
    doc="Graded benchmark contamination: per test-split doc, the fraction "
        "of its distinct word 3-grams that appear in the train split — "
        "the audit form of n6_decontamination's boolean gate. One "
        "explode + one distinct + ONE left join + a map-side-combinable "
        "count; join output is bounded by the eval shingle count.",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, doc_id % 100 AS b,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, b, array_to_string(w[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 1) + 1)) AS u(i)
        ), train_sh AS (
          SELECT DISTINCT shingle FROM sh WHERE b < 80
        )
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               COUNT(t.shingle) AS n_hit,
               ROUND(COUNT(t.shingle) / COUNT(*), 6) AS overlap
        FROM sh s LEFT JOIN train_sh t ON s.shingle = t.shingle
        WHERE s.b >= 90
        GROUP BY s.doc_id
    """,
)
def n6_contamination_overlap(spark, sf_dir):
    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    return ov.contamination_overlap(
        docs.filter(F.col("split") == "test"),
        docs.filter(F.col("split") == "train"),
        "text",
        "doc_id",
        k=3,
    )


@query(
    "n4_char_entropy",
    group="N4",
    doc="Character-level Shannon entropy (bits) + alphabet size per doc — "
        "the low-entropy-gibberish gate. Pure per-row higher-order "
        "functions, shuffle-free; the factored form only takes logs of "
        "integer counts and sums over the SORTED alphabet so both "
        "engines add the same doubles in the same order.",
    oracle="""
        WITH cs AS (
          SELECT doc_id, text, string_split(text, '') AS c FROM documents
        )
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE len(list_distinct(c)) END AS alphabet,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE ROUND(
                      (ln(length(text))
                       - list_sum(list_transform(
                           list_sort(list_distinct(c)),
                           d -> len(list_filter(c, x -> x = d))
                                * ln(len(list_filter(c, x -> x = d)))))
                         / length(text)) / ln(2), 6)
               END AS char_entropy
        FROM cs
    """,
)
def n4_char_entropy(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        en.alphabet_size(F.col("text")).alias("alphabet"),
        en.char_entropy(F.col("text")).alias("char_entropy"),
    )


@query(
    "n5_topk_per_group",
    group="N5",
    doc="Curriculum selection: top-5 docs per language by quality score "
        "(total order via doc_id tiebreak), via the SALTED two-phase "
        "top-k (operators/grouptopk.py) — a handful of language groups "
        "over 100 TB would serialize a plain window onto a handful of "
        "cores; phase 1 fans each group over 32 salt buckets and phase 2 "
        "ranks only k x 32 survivors per group.",
    oracle=r"""
        WITH m AS (
          SELECT doc_id, lang,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chr
          FROM documents
        ), q AS (
          SELECT doc_id, lang,
                 LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.6 +
                 (CASE WHEN n_chr / CAST(n_tok AS DOUBLE) >= 3.0
                        AND n_chr / CAST(n_tok AS DOUBLE) <= 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.4 AS quality
          FROM m
        ), r AS (
          SELECT lang, doc_id, quality,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY quality DESC, doc_id
                 ) AS "rank"
          FROM q
        )
        SELECT lang, doc_id, ROUND(quality, 6) AS quality, "rank"
        FROM r WHERE "rank" <= 5
    """,
)
def n5_topk_per_group(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").withColumn(
        "quality", tx.quality_score(F.col("text"))
    )
    top = grouped_topk(
        docs,
        "lang",
        [F.col("quality").desc(), F.col("doc_id").asc()],
        salt_col="doc_id",
        k=5,
    )
    return top.select(
        "lang", "doc_id", F.round("quality", 6).alias("quality"), "rank"
    )


@query(
    "n1_line_dedup_keep_first",
    group="N1",
    doc="C4-style corpus line dedup: every distinct line survives exactly "
        "once at its first (doc_id, pos) occurrence; docs reassemble "
        "from survivors. Keeper choice is groupBy(line).min(struct) — "
        "map-side combine collapses billion-fold boilerplate lines to "
        "one row per input partition, where a window would buffer every "
        "copy.",
    oracle="""
        WITH units AS (
          SELECT doc_id, i AS pos, ls[i + 1] AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM documents),
               UNNEST(range(len(ls))) AS u(i)
        ), kept AS (
          SELECT doc_id, pos, line
          FROM (SELECT doc_id, pos, line,
                       ROW_NUMBER() OVER (
                         PARTITION BY line ORDER BY doc_id, pos
                       ) AS rn
                FROM units)
          WHERE rn = 1
        )
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS new_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    """,
)
def n1_line_dedup_keep_first(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return pg.dedup_lines_keep_first(docs, "text", "doc_id")


@query(
    "n6_mixture_weights",
    group="N6",
    doc="Domain mixture weights: tempered share (weight ∝ n^0.5, the "
        "XLM-R/Pile alpha-smoothing) and the per-source sampling boost. "
        "One count per source, then arithmetic over the tiny aggregate "
        "(ordered-frame window sum, no BNLJ; sqrt not pow(0.5) so both "
        "engines produce the correctly-rounded, bit-identical double).",
    oracle="""
        WITH c AS (
          SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        )
        SELECT source, n_docs,
               ROUND(n_docs / SUM(n_docs) OVER w, 6) AS raw_share,
               ROUND(sqrt(n_docs) / SUM(sqrt(n_docs)) OVER w, 6) AS weight,
               ROUND(ROUND(sqrt(n_docs) / SUM(sqrt(n_docs)) OVER w, 6)
                     / ROUND(n_docs / SUM(n_docs) OVER w, 6), 6) AS boost
        FROM c
        WINDOW w AS (ORDER BY source
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING)
    """,
)
def n6_mixture_weights(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return wt.mixture_weights(docs, "source", alpha=0.5)


@query(
    "n1_dedup_incremental",
    group="N1",
    doc="Snapshot-delta dedup: the train split stands in for yesterday's "
        "corpus (kept only as a 16-byte-fp index), the rest is today's "
        "batch — admit batch docs whose content is new, min-id per "
        "batch-internal dup group. One anti-join of batch fps against "
        "the index; corpus bodies never re-read (functions/incremental.py).",
    oracle="""
        WITH fp AS (
          SELECT doc_id, md5(text) AS fp, doc_id % 100 AS b FROM documents
        ), idx AS (
          SELECT DISTINCT fp FROM fp WHERE b < 80
        ), batch AS (
          SELECT f.doc_id, f.fp FROM fp f
          LEFT JOIN idx ON f.fp = idx.fp
          WHERE f.b >= 80 AND idx.fp IS NULL
        )
        SELECT MIN(doc_id) AS doc_id, fp, COUNT(*) AS batch_dups
        FROM batch GROUP BY fp
    """,
)
def n1_dedup_incremental(spark, sf_dir):
    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    corpus = docs.filter(F.col("split") == "train")
    batch = docs.filter(F.col("split") != "train")
    idx = inc.fingerprint_index(corpus, "text")
    return inc.admit_batch(batch, idx, "text", "doc_id")


@query(
    "n1_cluster_best",
    group="N1",
    doc="Quality-aware dedup: after connected-component clustering of "
        "near-dup pairs, keep the BEST-quality member per cluster (not "
        "the min id) — min_by over struct(-quality, doc) aggregates "
        "map-side, so a megacluster never buffers in one task the way a "
        "per-cluster window would.",
    oracle=r"""
        WITH RECURSIVE toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id AS doc, array_to_string(w[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 1) + 1)) AS u(i)
        ), sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
        inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        ), pairs AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
          WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.4
        ), edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs
        ), reach AS (
          SELECT a AS doc, a AS r FROM edges
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc
        ), comp AS (
          SELECT doc, MIN(r) AS canonical FROM reach GROUP BY doc
        ), m AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chr
          FROM documents
        ), q AS (
          SELECT doc_id,
                 LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.6 +
                 (CASE WHEN n_chr / CAST(n_tok AS DOUBLE) >= 3.0
                        AND n_chr / CAST(n_tok AS DOUBLE) <= 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.4 AS quality
          FROM m
        ), j AS (
          SELECT c.canonical, c.doc, q.quality
          FROM comp c JOIN q ON q.doc_id = c.doc
        ), r2 AS (
          SELECT canonical, doc, quality,
                 ROW_NUMBER() OVER (
                   PARTITION BY canonical ORDER BY quality DESC, doc
                 ) AS rn,
                 COUNT(*) OVER (PARTITION BY canonical) AS cluster_size,
                 MAX(quality) OVER (PARTITION BY canonical) AS best_q
          FROM j
        )
        SELECT canonical, doc AS best_doc, ROUND(best_q, 6) AS best_quality,
               cluster_size
        FROM r2 WHERE rn = 1
    """,
)
def n1_cluster_best(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    from hiero_spark.functions.graph import connected_components

    pairs = dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b", n_iter=20)
    quality = docs.select(
        F.col("doc_id").alias("node"), tx.quality_score(F.col("text")).alias("quality")
    )
    joined = comp.join(quality, "node")
    return joined.groupBy(F.col("component").alias("canonical")).agg(
        F.expr("min_by(node, struct(-quality, node))").alias("best_doc"),
        F.round(F.max("quality"), 6).alias("best_quality"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


@query(
    "n1_fuzzy_dedup_pairs",
    group="N1",
    doc="Fuzzy key dedup: DISTINCT title pairs within edit distance 1, "
        "via SymSpell deletion-neighborhood blocking (functions/fuzzy.py) "
        "— candidates come from a variant equi-join, never an all-pairs "
        "scan, and identical keys collapse to one representative (min "
        "doc_id) BEFORE the neighborhood stage: exact-dup groups are "
        "groupBy-cheap, and feeding them through the pair generator "
        "would square their size for information a join-back on the key "
        "recovers for free (measured 10.3 s -> 1.2 s at sf0.1). The "
        "brute-force all-pairs levenshtein lives ONLY in the oracle at "
        "oracle scale. documents has no title column, so both engines "
        "synthesize the same keys from doc_id with a planted "
        "substitution typo on every 7th doc (non-vacuous: distance-1 "
        "pairs occur between and within number groups).",
    oracle="""
        WITH k AS (
          SELECT doc_id,
                 'document '
                 || (CASE WHEN doc_id % 7 = 0 THEN 'titl' ELSE 'title' END)
                 || ' ' || CAST(doc_id % 60 AS VARCHAR) AS key
          FROM documents
        ), d AS (
          SELECT key, MIN(doc_id) AS kid FROM k GROUP BY key
        )
        SELECT a.kid AS id_a, b.kid AS id_b,
               levenshtein(a.key, b.key) AS dist
        FROM d a JOIN d b ON a.kid < b.kid
        WHERE levenshtein(a.key, b.key) <= 1
    """,
)
def n1_fuzzy_dedup_pairs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.concat(
            F.lit("document "),
            F.when(F.col("doc_id") % 7 == 0, "titl").otherwise("title"),
            F.lit(" "),
            (F.col("doc_id") % 60).cast("string"),
        ).alias("title"),
    )
    distinct_keys = keyed.groupBy("title").agg(F.min("doc_id").alias("kid"))
    return fz.fuzzy_pairs_d1(distinct_keys, "title", "kid")


def _planted_corpus_and_batch(spark, sf_dir):
    """Shared plant for the incremental near-dup queries: corpus = train
    docs + an exact copy of every 10th test doc under id+1,000,000; batch
    = the test split. Identical text collides in every LSH band, so the
    planted twins are found deterministically — the verdict's anchor."""
    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    batch = docs.filter(F.col("split") == "test").select("doc_id", "text")
    planted = batch.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = (
        docs.filter(F.col("split") == "train")
        .select("doc_id", "text")
        .unionByName(planted)
    )
    return corpus, batch


@query(
    "n1_incremental_near_dups",
    group="N1",
    doc="Incremental NEAR-dup dedup (daily-ingest model): the corpus "
        "persists as an LSH index (band buckets + hashed shingle arrays, "
        "functions/incremental.py:lsh_index); the batch pays one "
        "shingle/signature pass, a bucket join against the index, and "
        "exact Jaccard on candidates only. Corpus text is never "
        "re-shingled. Probabilistic recall -> rows-only; the planted "
        "verdict twin is the hashable check.",
    oracle=None,
)
def n1_incremental_near_dups(spark, sf_dir):
    corpus, batch = _planted_corpus_and_batch(spark, sf_dir)
    bidx, bsh = inc.lsh_index(corpus, "text", "doc_id")
    return inc.incremental_near_dups(batch, bidx, bsh, "text", "doc_id")


@query(
    "n1_incremental_near_dups_verdict",
    group="N1",
    doc="Hashable verdict for the incremental near-dup path: every "
        "planted exact twin must be recovered (batch_doc + 1,000,000 at "
        "jaccard exactly 1.0 — identical shingle sets share all 16 band "
        "buckets, so recovery is deterministic, not probabilistic), and "
        "every emitted pair respects the threshold. n_planted anchors "
        "the verdict to the real split sizes.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
               TRUE AS all_planted_found,
               TRUE AS min_jaccard_ok
        FROM documents
        WHERE doc_id % 100 >= 90 AND doc_id % 10 = 0
    """,
)
def n1_incremental_near_dups_verdict(spark, sf_dir):
    corpus, batch = _planted_corpus_and_batch(spark, sf_dir)
    bidx, bsh = inc.lsh_index(corpus, "text", "doc_id")
    pairs = inc.incremental_near_dups(batch, bidx, bsh, "text", "doc_id")
    n_planted = batch.filter(F.col("doc_id") % 10 == 0).agg(
        F.count(F.lit(1)).alias("n_planted")
    )
    found = pairs.filter(
        (F.col("corpus_doc") == F.col("batch_doc") + 1000000)
        & (F.col("jaccard") == 1.0)
    ).agg(F.count_distinct("batch_doc").alias("n_found"))
    mj = pairs.agg(F.min("jaccard").alias("mj"))
    return (
        n_planted.crossJoin(found)
        .crossJoin(mj)
        .select(
            F.col("n_planted").cast("long").alias("n_planted"),
            (F.col("n_found") == F.col("n_planted")).alias("all_planted_found"),
            (F.col("mj") >= 0.7).alias("min_jaccard_ok"),
        )
    )


def _emb_query_vec(spark, sf_dir):
    row = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


# Shared CTE: symmetric int8 quantization mirrored from
# functions/quantize.py (ROUND is half-away-from-zero in both engines).
_Q_CODES_SQL = """
        m AS (
          SELECT vec_id,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) AS amax,
                 embedding
          FROM embeddings
        ), c AS (
          SELECT vec_id, amax,
                 list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 /
                        (CASE WHEN amax > 0 THEN amax ELSE 1.0 END), 0)
                        AS BIGINT)) AS codes
          FROM m
        )
"""


@query(
    "n2_quantized_vectors",
    group="N2",
    doc="Int8 symmetric quantization of the embedding store "
        "(functions/quantize.py): 4x less to persist/scan/shuffle than "
        "float32 at 100 TB. Values oracle-checked via exact integer "
        "aggregates of the codes plus the bit-identical per-vector "
        "de-scale factor.",
    oracle=f"""
        WITH {_Q_CODES_SQL}
        SELECT vec_id,
               CAST(len(codes) AS BIGINT) AS n_dims,
               -- +0.0 signed-zero guard (r12 audit): DuckDB's abs keeps
               -- -0.0 while Spark's clears it (pinned in
               -- tests/test_numeric_divergence.py), so an all-zero vector
               -- with a stored -0.0 would make amax (and scale) hash-
               -- diverge; +0.0 maps -0.0 -> 0.0 identically in both
               -- engines and is the identity everywhere else
               amax / 127.0 + 0.0 AS scale,
               CAST(list_sum(codes) AS BIGINT) AS sum_codes,
               CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT)
                 AS sum_abs_codes
        FROM c
    """,
)
def n2_quantized_vectors(spark, sf_dir):
    from hiero_spark.functions.quantize import quantize_vectors

    qv = quantize_vectors(t(spark, sf_dir, "embeddings"))
    lsum = lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    return qv.select(
        "vec_id",
        F.size("q").cast("long").alias("n_dims"),
        # mirrored +0.0 signed-zero guard — see the oracle's comment
        (F.col("scale") + F.lit(0.0)).alias("scale"),
        lsum(F.col("q")).alias("sum_codes"),
        lsum(F.transform(F.col("q"), lambda x: F.abs(x))).alias("sum_abs_codes"),
    )


@query(
    "n2_quantized_ann",
    group="N2",
    doc="Approximate cosine top-10 over the int8 codes only (integer dot "
        "products, exact in long, de-scaled once) — the ranking never "
        "touches the float vectors. Full SQL oracle mirrors the integer "
        "arithmetic, so even the quantized RANKING is hash-checked, not "
        "just spot-recalled.",
    oracle=f"""
        WITH {_Q_CODES_SQL},
        q AS (SELECT codes AS qc FROM c WHERE vec_id = 0),
        scored AS (
          SELECT c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(codes) + 1),
                      i -> codes[i] * qc[i])) AS DOUBLE) AS dot,
                 sqrt(CAST(list_sum(list_transform(codes, x -> x * x))
                      AS DOUBLE)) AS na,
                 sqrt(CAST(list_sum(list_transform(qc, x -> x * x))
                      AS DOUBLE)) AS nq
          FROM c, q
        )
        SELECT neighbor_id,
               ROUND(CASE WHEN na > 0 THEN dot / (na * nq) ELSE 0.0 END, 4)
                 AS cos_sim_q
        FROM scored ORDER BY dot / (na * nq) DESC, neighbor_id ASC LIMIT 10
    """,
)
def n2_quantized_ann(spark, sf_dir):
    from hiero_spark.functions.quantize import quantize_vectors, quantized_topk

    import os

    # Production shape per the module contract: quantize ONCE to the
    # persisted int8 relation, rank over the stored codes (probes read
    # 4x fewer bytes and skip the quantize arithmetic; inline
    # re-quantization measured 1.28 s vs 0.45 s over stored codes at
    # sf0.1 — interpreted HOF transforms are paid once at write time).
    # _SUCCESS-gated build-once (the _pca_model/text-index contract):
    # repeat calls are pure probes, matching how the store is used.
    path = _sf_export_dir(sf_dir, "qemb_sq8")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        quantize_vectors(t(spark, sf_dir, "embeddings")).select(
            "vec_id", "q", "scale"
        ).write.mode("overwrite").parquet(path)
    out = quantized_topk(
        spark.read.parquet(path), _emb_query_vec(spark, sf_dir), k=10
    )
    return out.select("neighbor_id", F.round("cos_sim_q", 4).alias("cos_sim_q"))


@query(
    "n2_recall_at_k",
    group="N2",
    doc="Retrieval evaluation: recall@{1,5,10} of the int8-quantized "
        "ranking against the full-precision ground truth — the quality "
        "gate a vector-store quantization rollout ships with. The ground "
        "truth is exact INTEGER arithmetic (functions/quantize.py:"
        "scaled_exact_topk: float32 components scale by 2^20 — an "
        "exponent shift, exact — then round; dot products and norms are "
        "exact BIGINTs; one final IEEE division), so even the 'exact' arm "
        "is bit-identical across engines and the whole evaluation is "
        "hash-checked, not spot-sampled — a float ground truth could "
        "never be (summation order).",
    oracle=f"""
        WITH {_Q_CODES_SQL},
        qq AS (SELECT codes AS qc FROM c WHERE vec_id = 0),
        ascore AS (
          -- same expression shape as the n2_quantized_ann oracle so the
          -- ranking doubles are bit-identical to the Spark arm
          SELECT c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(codes) + 1),
                      i -> codes[i] * qc[i])) AS DOUBLE) AS dot,
                 sqrt(CAST(list_sum(list_transform(codes, x -> x * x))
                      AS DOUBLE)) AS na,
                 sqrt(CAST(list_sum(list_transform(qc, x -> x * x))
                      AS DOUBLE)) AS nq
          FROM c, qq
        ), atop AS (
          SELECT neighbor_id,
                 ROW_NUMBER() OVER (
                   ORDER BY CASE WHEN na > 0 THEN dot / (na * nq)
                            ELSE 0.0 END DESC,
                            neighbor_id ASC) AS rank_a
          FROM ascore QUALIFY rank_a <= 10
        ),
        ex AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1048576.0, 0)
                        AS BIGINT)) AS sv
          FROM embeddings
        ), eq AS (SELECT sv AS qv FROM ex WHERE vec_id = 0),
        escore AS (
          SELECT ex.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(sv) + 1),
                      i -> sv[i] * qv[i])) AS DOUBLE) AS dot,
                 CAST(list_sum(list_transform(sv, x -> x * x)) AS DOUBLE) AS n2
          FROM ex, eq
        ), etop AS (
          SELECT neighbor_id,
                 ROW_NUMBER() OVER (
                   ORDER BY CASE WHEN n2 > 0 THEN dot / sqrt(n2) ELSE 0.0 END
                            DESC, neighbor_id ASC) AS rank_e
          FROM escore QUALIFY rank_e <= 10
        ),
        ranks AS (
          SELECT COALESCE(e.neighbor_id, a.neighbor_id) AS neighbor_id,
                 e.rank_e, a.rank_a
          FROM etop e FULL OUTER JOIN atop a ON e.neighbor_id = a.neighbor_id
        )
        SELECT k,
               CAST(COUNT(*) FILTER (WHERE rank_e <= k AND rank_a <= k)
                    AS BIGINT) AS n_overlap,
               ROUND(CAST(COUNT(*) FILTER (WHERE rank_e <= k AND rank_a <= k)
                     AS DOUBLE) / k, 6) AS recall
        FROM (VALUES (1), (5), (10)) ks(k) CROSS JOIN ranks
        GROUP BY k
    """,
)
def n2_recall_at_k(spark, sf_dir):
    import os

    from pyspark.sql import Window

    from hiero_spark.functions.quantize import (
        quantize_vectors, quantized_topk, scaled_exact_topk,
    )

    qv = _emb_query_vec(spark, sf_dir)
    path = _sf_export_dir(sf_dir, "qemb_sq8")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        quantize_vectors(t(spark, sf_dir, "embeddings")).select(
            "vec_id", "q", "scale"
        ).write.mode("overwrite").parquet(path)
    approx = quantized_topk(spark.read.parquet(path), qv, k=10).withColumn(
        "rank_a",
        F.row_number().over(
            Window.orderBy(F.desc("cos_sim_q"), F.asc("neighbor_id"))
        ),
    ).select("neighbor_id", "rank_a")
    exact = scaled_exact_topk(
        t(spark, sf_dir, "embeddings"), qv, k=10
    ).withColumnRenamed("rank", "rank_e")
    j = exact.join(approx, "neighbor_id", "full_outer")
    # ONE aggregation computes all three overlap counts, then unpivots to
    # the (k, n_overlap, recall) rows — the old per-k union of three
    # j.agg() branches re-ran the whole upstream (quantized scan + both
    # top-k windows + the full-outer join) once per k, tripling the query
    # (measured 2.30 s before; one upstream pass, identical output rows)
    def hit(k):
        return F.sum(
            F.when((F.col("rank_e") <= k) & (F.col("rank_a") <= k), 1)
            .otherwise(0)
        ).cast("long").alias(f"o{k}")

    agg = j.agg(hit(1), hit(5), hit(10))
    return agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).cast("int").alias("k"),
                    F.col(f"o{k}").alias("n_overlap"),
                    F.round(F.col(f"o{k}").cast("double") / F.lit(k), 6)
                    .alias("recall"),
                )
                for k in (1, 5, 10)
            ])
        ).alias("r")
    ).select("r.k", "r.n_overlap", "r.recall")


@query(
    "n2_quantized_recall",
    group="N2",
    doc="Recall@10 of the int8 ranking vs the exact float ranking — the "
        "number that justifies shipping 4x-smaller vectors. Both top-k "
        "sets have full SQL mirrors, so the recall itself is "
        "hash-checked.",
    oracle=f"""
        WITH {_Q_CODES_SQL},
        q AS (SELECT codes AS qc FROM c WHERE vec_id = 0),
        qscored AS (
          SELECT c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(codes) + 1),
                      i -> codes[i] * qc[i])) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(codes, x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(qc, x -> x * x)) AS DOUBLE)))
                 AS cs
          FROM c, q
        ),
        qtop AS (SELECT neighbor_id FROM qscored
                 ORDER BY cs DESC, neighbor_id ASC LIMIT 10),
        fq AS (SELECT embedding AS fqv FROM embeddings WHERE vec_id = 0),
        fscored AS (
          SELECT vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(fqv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(fqv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cs
          FROM embeddings, fq
        ),
        ftop AS (SELECT neighbor_id FROM fscored
                 ORDER BY cs DESC, neighbor_id ASC LIMIT 10)
        SELECT CAST(10 AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_overlap,
               ROUND(COUNT(*) / 10.0, 6) AS recall
        FROM qtop JOIN ftop USING (neighbor_id)
    """,
)
def n2_quantized_recall(spark, sf_dir):
    from hiero_spark.functions import similarity as sim
    from hiero_spark.functions.quantize import quantize_vectors, quantized_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _emb_query_vec(spark, sf_dir)
    exact = sim.brute_force_topk(emb, qv, k=10).select("neighbor_id")
    approx = quantized_topk(quantize_vectors(emb), qv, k=10).select("neighbor_id")
    return approx.join(exact, "neighbor_id").agg(
        F.lit(10).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall"),
    )


def _pca_model(spark, emb, dim, sf_dir):
    """Build-once/probe-many: fit + persist the PCA projection on first
    use (per scale factor), reuse it afterwards — same contract as the
    save_ivf index. The corpus tables are immutable fixtures, so a
    present _SUCCESS marker means the model matches the data."""
    import os

    from hiero_spark.functions.rerank import fit_pca_model, load_pca_model

    path = _sf_export_dir(sf_dir, "pca_model")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        fit_pca_model(emb, path, dim=dim, k=8)
    return load_pca_model(spark, path)


@query(
    "n2_pca_rerank",
    group="N2",
    doc="Two-stage ANN: coarse top-50 by cosine in an 8-dim PCA space, "
        "exact full-dim rerank of candidates only. The projection is fit "
        "ONCE and persisted (fit_pca_model, functions/rerank.py) — the "
        "save_ivf build/probe split; the probe loads d*(k+1) doubles and "
        "scans the corpus once (a per-query Gram refit "
        "was 5.5 s/call, all training). Rows-only (the candidate set "
        "depends on the eigenfit); the verdict twin pins the pipeline's "
        "exactness properties. HONEST NEGATIVE on this corpus: the "
        "synthetic embeddings are near-isotropic (top-8 components "
        "explain ~20% variance), so recall@10 is ~0.2 here — the unit "
        "test shows 1.0 on clustered data, where the reduction actually "
        "applies.",
    oracle=None,
)
def n2_pca_rerank(spark, sf_dir):
    from hiero_spark.functions.rerank import pca_rerank_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _emb_query_vec(spark, sf_dir)
    model = _pca_model(spark, emb, len(qv), sf_dir)
    out = pca_rerank_topk(emb, qv, k=10, n_candidates=50, model=model)
    return out.select("neighbor_id", F.round("cos_sim", 4).alias("cos_sim"))


@query(
    "n2_pca_rerank_verdict",
    group="N2",
    doc="Exactness pins for the two-stage path: widening the candidate "
        "set to the whole corpus must reproduce the exact brute-force "
        "top-10 (the coarse stage becomes a permutation and the rerank "
        "IS brute force) — a full-pipeline correctness check independent "
        "of how compressible the data is.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(10 AS BIGINT) AS k,
               TRUE AS full_width_matches_exact
        FROM embeddings
    """,
)
def n2_pca_rerank_verdict(spark, sf_dir):
    from hiero_spark.functions import similarity as sim
    from hiero_spark.functions.rerank import pca_rerank_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _emb_query_vec(spark, sf_dir)
    n = emb.count()
    model = _pca_model(spark, emb, len(qv), sf_dir)
    exact = sim.brute_force_topk(emb, qv, k=10).select("neighbor_id")
    full_width = pca_rerank_topk(
        emb, qv, k=10, n_candidates=n, model=model
    ).select("neighbor_id")
    overlap = full_width.join(exact, "neighbor_id")
    return overlap.agg(
        F.lit(n).cast("long").alias("n_vectors"),
        F.lit(10).cast("long").alias("k"),
        (F.count(F.lit(1)) == 10).alias("full_width_matches_exact"),
    )


@query(
    "n4_normalize_text",
    group="N4",
    doc="Unicode ingestion normalization (functions/normalize.py): NFC "
        "composition (Arrow-batched pandas_udf — Spark has no builtin "
        "normalizer; DuckDB mirrors with nfc_normalize), control-char "
        "strip, whitespace collapse. The corpus is clean ASCII, so both "
        "engines plant the same mess (decomposed e+combining-acute, a "
        "BEL, doubled spaces) on every 3rd doc — non-vacuous by "
        "construction.",
    oracle=r"""
        WITH messy AS (
          SELECT doc_id,
                 text || (CASE WHEN doc_id % 3 = 0
                               THEN '  cafe' || chr(769) || chr(7) || ' '
                               ELSE '' END) AS m
          FROM documents
        )
        SELECT doc_id,
               TRIM(regexp_replace(
                 regexp_replace(nfc_normalize(m),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                 '\s+', ' ', 'g')) AS norm_text,
               TRIM(regexp_replace(
                 regexp_replace(nfc_normalize(m),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                 '\s+', ' ', 'g')) <> m AS changed
        FROM messy
    """,
)
def n4_normalize_text(spark, sf_dir):
    from hiero_spark.functions.normalize import with_normalized_text

    docs = t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, "  café\x07 ").otherwise(""),
        ).alias("m"),
    )
    return with_normalized_text(messy, "m").select("doc_id", "norm_text", "changed")


@query(
    "n5_curation_pipeline2",
    group="N5",
    doc="Composed curation pass, one plan end to end: keep-first "
        "line dedup (raw text — line structure must survive to this "
        "stage) -> unicode normalization -> char-entropy + quality + "
        "stopword-prose gates "
        "on the NORMALIZED text -> exact dedup by md5(norm). Every stage "
        "reuses an individually-proven operator and the oracle chains "
        "their individually-proven SQL mirrors — the composability "
        "evidence a query engine owes its users.",
    oracle=r"""
        WITH units AS (
          SELECT doc_id, i AS pos, ls[i + 1] AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM documents),
               UNNEST(range(len(ls))) AS u(i)
        ), kept AS (
          SELECT doc_id, pos, line
          FROM (SELECT doc_id, pos, line,
                       ROW_NUMBER() OVER (
                         PARTITION BY line ORDER BY doc_id, pos
                       ) AS rn
                FROM units)
          WHERE rn = 1
        ), rebuilt AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS new_text
          FROM kept GROUP BY doc_id
        ), norm AS (
          SELECT doc_id,
                 TRIM(regexp_replace(
                   regexp_replace(nfc_normalize(new_text),
                     '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                   '\s+', ' ', 'g')) AS n
          FROM rebuilt
        ), feat AS (
          SELECT doc_id, n,
                 CASE WHEN length(n) = 0 THEN 0.0
                      ELSE (ln(length(n))
                            - list_sum(list_transform(
                                list_sort(list_distinct(string_split(n, ''))),
                                d -> len(list_filter(string_split(n, ''), x -> x = d))
                                     * ln(len(list_filter(string_split(n, ''), x -> x = d)))))
                              / length(n)) / ln(2)
                 END AS entropy,
                 LEAST(CAST(len(regexp_split_to_array(trim(n), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.6 +
                 (CASE WHEN CAST(length(n) AS DOUBLE) / len(regexp_split_to_array(trim(n), '\s+')) >= 3.0
                        AND CAST(length(n) AS DOUBLE) / len(regexp_split_to_array(trim(n), '\s+')) <= 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.4 AS quality
          FROM norm
        ), gated AS (
          SELECT doc_id, n FROM feat
          WHERE entropy >= 1.5 AND quality >= 0.5
            AND len(list_distinct(list_filter(
                  regexp_split_to_array(trim(lower(n)), '\s+'),
                  x -> x IN ('the','of','and','to','in','a','is','that','for','it')
                ))) >= 2
        )
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM gated GROUP BY md5(n)
    """,
)
def n5_curation_pipeline2(spark, sf_dir):
    from hiero_spark.functions._cachetrack import persist_tracked
    from hiero_spark.functions.entropy import char_entropy
    from hiero_spark.functions.normalize import normalize_text

    docs = t(spark, sf_dir, "documents")
    rebuilt = pg.dedup_lines_keep_first(docs, "text", "doc_id")
    # persist the normalized relation: downstream, `n` is referenced by
    # the entropy gate (inside per-ELEMENT lambdas), the quality gate and
    # md5 — unmaterialized, CollapseProject re-runs the regex chain per
    # reference (measured 7.2 s -> 1.4 s at sf0.1); at
    # 100 TB this persist is the checkpoint of the normalized corpus
    norm = persist_tracked(rebuilt.select(
        "doc_id", normalize_text(F.col("new_text")).alias("n")
    ))
    # gate on RAW (unrounded) entropy to mirror the oracle's comparison
    ent = char_entropy(F.col("n"), rounded=False)
    gated = norm.withColumn(
        "quality", tx.quality_score(F.col("n"))
    ).filter((ent >= 1.5) & (F.col("quality") >= 0.5) & tx.prose_gate(F.col("n")))
    return (
        gated.groupBy(F.md5("n"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keep_id", "dup_count")
    )


@query(
    "ext_rolling_anomaly",
    group="ext-window",
    doc="Rolling z-score anomaly detection (operators/anomaly.py): hourly "
        "event counts per type vs a trailing-24h baseline (current hour "
        "EXCLUDED so a spike can't mask itself). Window input is the "
        "hourly AGGREGATE (keys x hours), never the raw events; variance "
        "via explicit sum/sumsq so both engines produce bit-identical "
        "z-scores over exact integer sums.",
    oracle="""
        WITH hourly AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        ), scored AS (
          SELECT event_type, bucket_ts, n_events,
                 COUNT(CAST(n_events AS DOUBLE)) OVER w AS n,
                 SUM(CAST(n_events AS DOUBLE)) OVER w AS s,
                 SUM(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) OVER w AS ss
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        ), z AS (
          SELECT event_type, bucket_ts, n_events,
                 s / n AS mean,
                 sqrt(GREATEST((ss - n * (s / n) * (s / n)) / (n - 1), 0.0)) AS std
          FROM scored WHERE n >= 6
        )
        SELECT event_type, bucket_ts, n_events,
               ROUND(mean, 6) AS baseline_mean,
               ROUND((n_events - mean) / std, 6) AS zscore
        FROM z
        WHERE std > 0 AND ABS((n_events - mean) / std) >= 3.0
    """,
)
def ext_rolling_anomaly(spark, sf_dir):
    from hiero_spark.operators.anomaly import hourly_count_anomalies

    return hourly_count_anomalies(t(spark, sf_dir, "events"))


def _pr_oracle_iter(prev: str, cur: str) -> str:
    """One chained-CTE PageRank round (mirrors functions/graph.py's
    integer arithmetic; CAST kills DuckDB's HUGEINT promotion)."""
    return f"""{cur} AS (
          SELECT nodes.node,
                 CAST(150000 + (85 * COALESCE(t.s, 0)) // 100 AS BIGINT) AS r
          FROM nodes LEFT JOIN (
            SELECT e.dst AS node, CAST(SUM(p.r // od.outdeg) AS BIGINT) AS s
            FROM edges e
            JOIN {prev} p ON p.node = e.src
            JOIN outdeg od ON od.node = e.src
            GROUP BY e.dst
          ) t ON t.node = nodes.node
        )"""


@query(
    "n7_pagerank",
    group="N7",
    doc="Link-graph quality scoring: 3-round PageRank over a "
        "deterministic synthetic link graph (documents has no link "
        "column; both engines derive 3 out-links per doc from doc_id). "
        "Ranks live in scaled-long micro-units with integer division "
        "everywhere (functions/graph.py), so the whole fixpoint "
        "trajectory is bit-identical across engines and the oracle "
        "hash-checks raw values — no tolerance. Same iterative shape as "
        "dedup clustering: join + agg per round, localCheckpoint cuts "
        "lineage.",
    oracle=f"""
        WITH params AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        edges AS (
          SELECT doc_id AS src, (doc_id * 7 + j * 13) % n AS dst
          FROM documents, params, UNNEST([1, 2, 3]) AS u(j)
          WHERE (doc_id * 7 + j * 13) % n <> doc_id
        ),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION SELECT dst AS node FROM edges
          )
        ),
        outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        {_pr_oracle_iter("r0", "r1")},
        {_pr_oracle_iter("r1", "r2")},
        {_pr_oracle_iter("r2", "r3")}
        SELECT node, r AS rank_micro, r / 1000000.0 AS rank FROM r3
    """,
)
def n7_pagerank(spark, sf_dir):
    from hiero_spark.functions.graph import pagerank

    docs = t(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    edges = (
        docs.select("doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"))
        .select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + F.col("j") * 13) % n).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
    )
    return pagerank(edges, n_iter=3)


@query(
    "n7_connected_components",
    group="N7",
    doc="Connected components via hash-min label propagation WITH pointer "
        "jumping (functions/graph.py:connected_components): each round a "
        "neighbor-min step extends reach by one hop, then L(v) <- L(L(v)) "
        "squares it, so 3 rounds (reach 14) close the planted chain "
        "clusters of 8 (O(diameter) rounds without the jump — the "
        "difference that matters on a chain-shaped web graph). Both "
        "engines derive the "
        "same arithmetic edge set (doc i -> i+1 inside each 8-block), and "
        "the converged component id is the block base — exact integers, "
        "hash-checked with no tolerance. Isolated tail nodes are seeded "
        "from the node table, not the edge list.",
    oracle="""
        SELECT doc_id AS node,
               doc_id - doc_id % 8 AS component
        FROM documents
    """,
)
def n7_connected_components(spark, sf_dir):
    from hiero_spark.functions.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    edges = (
        docs.filter((F.col("doc_id") % 8 != 7) & (F.col("doc_id") < mx))
        .select(
            F.col("doc_id").alias("src"),
            (F.col("doc_id") + 1).alias("dst"),
        )
    )
    # n_iter is a convergence CAP: connected_components
    # early-exits the round after no label changes, so the planted
    # chains of 8 (diameter 7, within the round-3 reach d_3 = 14 of the
    # recurrence d_r = 2*(d_{r-1}+1)) run 4 rounds — three that
    # converge plus the free-ridden observation round — and a
    # hypothetical 100 TB graph with a longer diameter keeps iterating
    # up to the cap instead of silently returning unconverged labels.
    return connected_components(
        edges, nodes=docs.select(F.col("doc_id").alias("node")), n_iter=30
    )


@query(
    "n7_bfs_levels",
    group="N7",
    doc="Multi-source BFS shortest-path levels over the REAL customer–"
        "supplier bipartite supply graph (orders⋈lineitem edges, supplier "
        "node ids offset by 1e6 — the entity-resolution id convention): "
        "hop distance from every nation-0 customer, bounded at 4 hops. "
        "Frontier-only Pregel rounds (functions/graph.py:bfs_levels) — "
        "each round joins just the newly-reached frontier with the edge "
        "list, so round cost tracks the frontier, not the graph. Oracle "
        "is the general bounded-depth recursive closure (the "
        "n1_entity_resolution precedent), not a planted shape: DuckDB "
        "re-derives distances from the same edges, exact integers, "
        "hash-checked with no tolerance.",
    oracle="""
        WITH RECURSIVE
        e AS (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                 CAST(l_suppkey AS BIGINT) + 1000000 AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        sym AS (
          SELECT c AS u, s AS v FROM e
          UNION ALL
          SELECT s AS u, c AS v FROM e
        ),
        walk(node, d) AS (
          SELECT CAST(c_custkey AS BIGINT), 0
          FROM customer WHERE c_nationkey = 0
          UNION
          SELECT sym.v, walk.d + 1
          FROM walk JOIN sym ON sym.u = walk.node
          WHERE walk.d < 4
        )
        SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        FROM walk GROUP BY node
    """,
)
def n7_bfs_levels(spark, sf_dir):
    from hiero_spark.functions.graph import bfs_levels

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
        )
        .distinct()
    )
    sources = cust.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").cast("long").alias("node")
    )
    return bfs_levels(edges, sources, max_hops=4)


@query(
    "n6_mixture_apply",
    group="N6",
    doc="Mixture weights APPLIED: alpha-tempered per-source weights "
        "(n6_mixture_weights) become exact quotas (floor(weight * 100)) "
        "drawn deterministically per source — the tiny quota table "
        "broadcasts into a per-source rank over the mirrorable LCG "
        "shuffle key. Closes the loop from computed mixture to the "
        "actual sampled rows; eval-set assembly needs exact counts, not "
        "sampleBy's binomial wobble.",
    oracle=f"""
        WITH c AS (
          SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ), w AS (
          SELECT source,
                 ROUND(sqrt(n_docs) / SUM(sqrt(n_docs)) OVER (
                   ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING), 6) AS weight
          FROM c
        ), q AS (
          SELECT source, CAST(FLOOR(weight * 100) AS BIGINT) AS quota FROM w
        ), r AS (
          SELECT d.source, d.doc_id, q.quota,
                 ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY ((d.doc_id + 7) * {pl._LCG_MULT}) % {pl._LCG_MOD},
                            d.doc_id
                 ) AS rk
          FROM documents d JOIN q USING (source)
        )
        SELECT source, doc_id, quota FROM r WHERE rk <= quota
    """,
)
def n6_mixture_apply(spark, sf_dir):
    from hiero_spark.operators.grouptopk import grouped_topk

    docs = t(spark, sf_dir, "documents")
    quotas = wt.mixture_weights(docs, "source", alpha=0.5).select(
        "source", F.floor(F.col("weight") * 100).cast("long").alias("quota")
    )
    # per-source quotas vary, so phase-1 keeps the MAX quota (100 =
    # floor(weight*100) bound) per salt bucket — sound for every
    # stratum — and the per-source quota filter applies to the final
    # rank.  grouped_topk fans each source over salt buckets instead of
    # serializing a hot source onto one window task (the
    # stratified_sample technique, applied to the variable-quota case).
    ranked = grouped_topk(
        docs.join(F.broadcast(quotas), "source")
        .withColumn("_sk", pl.shuffle_key(F.col("doc_id"), seed=7)),
        "source",
        [F.col("_sk").asc(), F.col("doc_id").asc()],
        salt_col="doc_id",
        k=100,
    )
    return (
        ranked.filter(F.col("rank") <= F.col("quota"))
        .select("source", "doc_id", "quota")
    )


@query(
    "n1_remove_repeated_spans",
    group="N1",
    doc="ExactSubstr span removal (Lee et al. 2022, the full recipe): "
        "every verbatim 16-token span survives only at its first "
        "(doc, pos) occurrence; later occurrences are cut and documents "
        "reassemble from the remaining tokens (functions/spans.py). "
        "835 naturally-duplicated spans at sf0.01 make the oracle "
        "non-vacuous without planting. Gram keys travel as strings "
        "(the oracle must recompute them).",
    oracle=r"""
        WITH toks0 AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), g AS (
          SELECT doc_id, i AS pos, array_to_string(w[i + 1:i + 16], ' ') AS gram
          FROM toks0, UNNEST(range(GREATEST(len(w) - 15, 0))) AS u(i)
        ), occ AS (
          SELECT doc_id, pos,
                 ROW_NUMBER() OVER (
                   PARTITION BY gram ORDER BY doc_id, pos
                 ) AS rn
          FROM g
        ), covered AS (
          SELECT DISTINCT doc_id, pos + j AS cpos
          FROM occ, UNNEST(range(16)) AS v(j)
          WHERE rn > 1
        ), toks AS (
          SELECT doc_id, i AS pos, w[i + 1] AS tok
          FROM toks0, UNNEST(range(len(w))) AS u(i)
        ), rebuilt AS (
          SELECT t.doc_id,
                 string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
          FROM toks t LEFT JOIN covered c
            ON c.doc_id = t.doc_id AND c.cpos = t.pos
          WHERE c.cpos IS NULL
          GROUP BY t.doc_id
        ), removed AS (
          SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               COALESCE(m.n_removed, 0) AS n_removed
        FROM documents d
        LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        LEFT JOIN removed m ON m.doc_id = d.doc_id
    """,
)
def n1_remove_repeated_spans(spark, sf_dir):
    from hiero_spark.functions.spans import remove_repeated_spans

    return remove_repeated_spans(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=16
    )


@query(
    "ext_scd2_build",
    group="ext-window",
    doc="SCD type-2 dimension build (operators/temporal.py:scd2_from_log): "
        "per-user event-type history as validity intervals — consecutive "
        "no-change events collapse into the run that set the value, "
        "valid_to = next change (NULL = current). One exchange on the "
        "key, two windows, no row amplification; the output feeds the "
        "as-of join. Micros epochs keep sub-second changes distinct.",
    oracle="""
        WITH ordered AS (
          SELECT user_id, ts, event_id, event_type,
                 LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS prev
          FROM events
        ), changes AS (
          SELECT user_id, ts, event_id, event_type
          FROM ordered WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id AS key, event_type AS attr,
               epoch_us(ts) AS valid_from,
               epoch_us(LEAD(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               )) AS valid_to,
               (LEAD(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               )) IS NULL AS is_current
        FROM changes
    """,
)
def ext_scd2_build(spark, sf_dir):
    from hiero_spark.operators.temporal import scd2_from_log

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return scd2_from_log(ev, "user_id", "ts", "event_type", "event_id")


@query(
    "n6_dataset_diff",
    group="N6",
    doc="Dataset snapshot diff — the release-note numbers between two "
        "corpus versions: added / removed / changed / unchanged doc "
        "counts plus the char-mass delta. Both engines synthesize v2 "
        "from v1 deterministically (every 31st doc dropped, every "
        "remaining 17th doc edited, 5 new docs). One full-outer join on "
        "doc_id comparing md5(text) — bodies never move, 16-byte "
        "fingerprints do.",
    oracle="""
        WITH v1 AS (
          SELECT doc_id, md5(text) AS fp, n_chars FROM documents
        ), v2 AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 17 = 0 THEN text || ' [edited]'
                          ELSE text END) AS fp,
                 CASE WHEN doc_id % 17 = 0 THEN n_chars + 9
                      ELSE n_chars END AS n_chars
          FROM documents WHERE doc_id % 31 <> 0
          UNION ALL
          SELECT 8000000 + i, md5('new doc ' || CAST(i AS VARCHAR)), 10
          FROM UNNEST(range(5)) AS u(i)
        ), j AS (
          SELECT v1.doc_id AS id1, v2.doc_id AS id2,
                 v1.fp AS fp1, v2.fp AS fp2,
                 COALESCE(v2.n_chars, 0) - COALESCE(v1.n_chars, 0) AS dchars
          FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        )
        SELECT CAST(SUM(CASE WHEN id1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
               CAST(SUM(CASE WHEN id2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN id1 IS NOT NULL AND id2 IS NOT NULL
                              AND fp1 <> fp2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
               CAST(SUM(CASE WHEN fp1 = fp2 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
               CAST(SUM(dchars) AS BIGINT) AS char_delta
        FROM j
    """,
)
def n6_dataset_diff(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("fp"), "n_chars")
    edited = docs.filter(F.col("doc_id") % 31 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
        F.when(F.col("doc_id") % 17 == 0, F.col("n_chars") + 9)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    new_rows = spark.range(5).select(
        (F.col("id") + 8000000).alias("doc_id"),
        F.md5(F.concat(F.lit("new doc "), F.col("id").cast("string"))).alias("fp"),
        F.lit(10).cast("long").alias("n_chars"),
    )
    v2 = edited.unionByName(new_rows)
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return j.agg(
        one_if(F.col("a.doc_id").isNull()).alias("n_added"),
        one_if(F.col("b.doc_id").isNull()).alias("n_removed"),
        one_if(
            F.col("a.doc_id").isNotNull()
            & F.col("b.doc_id").isNotNull()
            & (F.col("a.fp") != F.col("b.fp"))
        ).alias("n_changed"),
        one_if(F.col("a.fp") == F.col("b.fp")).alias("n_unchanged"),
        F.sum(
            F.coalesce(F.col("b.n_chars"), F.lit(0))
            - F.coalesce(F.col("a.n_chars"), F.lit(0))
        ).cast("long").alias("char_delta"),
    )


@query(
    "n5_curation_funnel",
    group="N5",
    doc="Curation funnel report — the dataset-card table every pipeline "
        "publishes: documents and token mass surviving each cumulative "
        "gate (language -> quality -> dup-line -> 2-gram -> symbol -> "
        "stopword prose gate, the full Gopher set) and the final "
        "exact-dedup stage. All gate flags come from ONE scan "
        "(conditional sums); only the dedup stage shuffles (fingerprint "
        "groupBy, min-doc representative carries the token mass).",
    oracle=r"""
        WITH m AS (
          SELECT doc_id, text,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chr,
                 regexp_split_to_array(text, '\n') AS lines,
                 regexp_split_to_array(trim(text), '\s+') AS toks,
                 length(regexp_replace(text, '[A-Za-z0-9\s.,;:!?()-]', '', 'g')) AS n_sym
          FROM documents
        ), b AS (
          SELECT doc_id, len(toks) AS nt,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM m WHERE len(toks) >= 2
        ), c AS (
          SELECT doc_id, nt, bigram, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3
        ), tg AS (
          SELECT doc_id,
                 ROUND(LEAST(MAX(cnt) * 2.0, CAST(nt AS DOUBLE)) / nt, 6) AS t2g
          FROM c GROUP BY doc_id, nt
        ), f AS (
          SELECT m.doc_id, m.n_tok, md5(m.text) AS fp,
                 (CASE WHEN length(m.text) - length(regexp_replace(m.text, '[一-鿿]', '', 'g')) > 0
                        AND (length(m.text) - length(regexp_replace(m.text, '[一-鿿]', '', 'g'))) * 10
                            >= length(m.text) * 3 THEN 'zh'
                       WHEN contains(' ' || lower(m.text) || ' ', ' the ') THEN 'en'
                       WHEN contains(' ' || lower(m.text) || ' ', ' le ') THEN 'fr'
                       WHEN contains(' ' || lower(m.text) || ' ', ' der ') THEN 'de'
                       WHEN contains(' ' || lower(m.text) || ' ', ' el ') THEN 'es'
                       ELSE 'und' END) = 'en' AS g_lang,
                 LEAST(CAST(m.n_tok AS DOUBLE) / 100.0, 1.0) * 0.6 +
                 (CASE WHEN m.n_chr / CAST(m.n_tok AS DOUBLE) >= 3.0
                        AND m.n_chr / CAST(m.n_tok AS DOUBLE) <= 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.4 >= 0.5 AS g_quality,
                 ROUND(CAST(len(m.lines) - len(list_distinct(m.lines)) AS DOUBLE)
                       / len(m.lines), 6) <= 0.30 AS g_dupline,
                 COALESCE(tg.t2g, 0.0) <= 0.20 AS g_2gram,
                 ROUND(CAST(m.n_sym AS DOUBLE) / len(m.toks), 6) <= 0.10 AS g_symbol,
                 len(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(m.text)), '\s+'),
                   x -> x IN ('the','of','and','to','in','a','is','that','for','it')
                 ))) >= 2 AS g_stop
          FROM m LEFT JOIN tg ON tg.doc_id = m.doc_id
        ), flags AS (
          SELECT doc_id, n_tok, fp,
                 g_lang AS s1,
                 g_lang AND g_quality AS s2,
                 g_lang AND g_quality AND g_dupline AS s3,
                 g_lang AND g_quality AND g_dupline AND g_2gram AS s4,
                 g_lang AND g_quality AND g_dupline AND g_2gram AND g_symbol AS s5,
                 g_lang AND g_quality AND g_dupline AND g_2gram AND g_symbol
                   AND g_stop AS s6
          FROM f
        ), dedup AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                 CAST(SUM(rep_tok) AS BIGINT) AS td
          FROM (SELECT fp, arg_min(n_tok, doc_id) AS rep_tok
                FROM flags WHERE s6 GROUP BY fp)
        )
        SELECT * FROM (
          SELECT 0 AS stage, 'total' AS gate,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM flags
          UNION ALL
          SELECT 1, 'lang_en', CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN s1 THEN n_tok ELSE 0 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 2, 'quality', CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN s2 THEN n_tok ELSE 0 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 3, 'dup_line', CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN s3 THEN n_tok ELSE 0 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 4, 'top_2gram', CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN s4 THEN n_tok ELSE 0 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 5, 'symbol', CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN s5 THEN n_tok ELSE 0 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 6, 'stopword', CAST(SUM(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN s6 THEN n_tok ELSE 0 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 7, 'exact_dedup', nd, td FROM dedup
        )
    """,
)
def n5_curation_funnel(spark, sf_dir):
    from hiero_spark.functions._cachetrack import persist_tracked

    # fan_out: same single-file narrow-scan fix as n5_rejection_reasons
    # (the gate exprs are the cost; no-op multi-file). persist_tracked:
    # `flagged` feeds TWO consumers — the 14-column gates aggregate and
    # the exact-dedup branch — which would each re-run every text gate;
    # the persisted frame is gate booleans + fp + n_tok, never the text
    # (guide §1.2/§5).
    docs = tx.with_language_id(
        fan_out(t(spark, sf_dir, "documents"), "doc_id"), "text"
    )
    flagged = (
        docs.withColumn("n_tok", tx.token_count(F.col("text")))
        .withColumn("fp", tx.fingerprint(F.col("text")))
        .withColumn("s1", F.col("pred_lang") == "en")
        .withColumn(
            "s2", F.col("s1") & (tx.quality_score(F.col("text")) >= 0.5)
        )
        .withColumn(
            "s3", F.col("s2") & (tx.duplicate_line_fraction(F.col("text")) <= 0.30)
        )
        .withColumn(
            "s4", F.col("s3") & (tx.top_2gram_share(F.col("text")) <= 0.20)
        )
        .withColumn(
            "s5", F.col("s4") & (tx.symbol_word_ratio(F.col("text")) <= 0.10)
        )
        .withColumn("s6", F.col("s5") & tx.prose_gate(F.col("text")))
        .select("doc_id", "n_tok", "fp", "s1", "s2", "s3", "s4", "s5", "s6")
    )
    flagged = persist_tracked(flagged)
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")
    tok = lambda c: F.sum(F.when(F.col(c), F.col("n_tok")).otherwise(0)).cast("long")
    gates = flagged.agg(
        F.count(F.lit(1)).alias("n0"), F.sum("n_tok").cast("long").alias("t0"),
        cnt("s1").alias("n1"), tok("s1").alias("t1"),
        cnt("s2").alias("n2"), tok("s2").alias("t2"),
        cnt("s3").alias("n3"), tok("s3").alias("t3"),
        cnt("s4").alias("n4"), tok("s4").alias("t4"),
        cnt("s5").alias("n5"), tok("s5").alias("t5"),
        cnt("s6").alias("n6"), tok("s6").alias("t6"),
    )
    dedup = (
        flagged.filter("s6")
        .groupBy("fp")
        .agg(F.expr("min_by(n_tok, doc_id)").alias("rep_tok"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n7"),
            F.sum("rep_tok").cast("long").alias("t7"),
        )
    )
    wide = gates.crossJoin(dedup)
    return wide.selectExpr(
        "stack(8, "
        "0, 'total', n0, t0, "
        "1, 'lang_en', n1, t1, "
        "2, 'quality', n2, t2, "
        "3, 'dup_line', n3, t3, "
        "4, 'top_2gram', n4, t4, "
        "5, 'symbol', n5, t5, "
        "6, 'stopword', n6, t6, "
        "7, 'exact_dedup', n7, t7) AS (stage, gate, n_docs, n_tokens)"
    )


@query(
    "ext_ewma_levels",
    group="ext-window",
    doc="EWMA smoothed hourly-volume level per event type "
        "(operators/anomaly.py:ewma_levels): a recursive fold no window "
        "frame expresses — each key's bounded series collects into one "
        "ordered array and folds left-to-right; DuckDB's list_reduce "
        "runs the identical seed-first sequential fold, so the "
        "order-dependent double is bit-identical across engines.",
    oracle="""
        WITH hourly AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        ), s AS (
          SELECT event_type,
                 list_transform(list(n_events ORDER BY bucket_ts),
                                x -> CAST(x AS DOUBLE)) AS l
          FROM hourly GROUP BY event_type
        )
        SELECT event_type,
               CAST(len(l) AS BIGINT) AS n_buckets,
               ROUND(CASE WHEN len(l) >= 2
                          THEN list_reduce(l, (a, x) ->
                               a * CAST(0.7 AS DOUBLE)
                               + x * CAST(0.3 AS DOUBLE))
                          ELSE l[1] END, 6) AS ewma_level
        FROM s
    """,
)
def ext_ewma_levels(spark, sf_dir):
    from hiero_spark.operators.anomaly import ewma_levels

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bucket_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return ewma_levels(hourly, "event_type", "bucket_ts", "n_events", alpha=0.3)


@query(
    "n4_stopword_fraction",
    group="N4",
    doc="Gopher prose signal (functions/text.py:stopword_fraction): the "
        "fraction of tokens that are common English function words, plus "
        "the Rae et al. 'contains at least 2 distinct stop words' gate. "
        "Near-zero flags keyword stuffing / code / gibberish that "
        "length+punctuation heuristics pass.",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        )
        SELECT doc_id,
               ROUND(CAST(len(list_filter(w, x -> x IN
                 ('the','of','and','to','in','a','is','that','for','it')))
                 AS DOUBLE) / len(w), 6) AS stop_frac,
               len(list_distinct(list_filter(w, x -> x IN
                 ('the','of','and','to','in','a','is','that','for','it'))))
                 >= 2 AS prose_gate
        FROM toks
    """,
)
def n4_stopword_fraction(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    stops = F.array(*[F.lit(w) for w in tx.STOP_WORDS])
    hits = F.filter(toks, lambda x: F.array_contains(stops, x))
    return docs.select(
        "doc_id",
        tx.stopword_fraction(F.col("text")).alias("stop_frac"),
        (F.size(F.array_distinct(hits)) >= 2).alias("prose_gate"),
    )


@query(
    "ext_holt_forecast",
    group="ext-window",
    doc="Holt double-exponential smoothing (level+trend) per event "
        "type (operators/anomaly.py:holt_levels) — the forecasting "
        "step up from ext_ewma_levels when a series drifts; "
        "forecast_next = level + trend. Same recursive-fold contract: "
        "one bounded ordered array per key, struct(l, b) accumulator "
        "through F.aggregate; DuckDB reproduces the IDENTICAL FP op "
        "sequence with 2-arg list_reduce by prepending the "
        "[x1, x2-x1] seed PAIR to the pair-mapped tail. The "
        "accumulator is a 2-element DOUBLE LIST, not a struct: DuckDB "
        "1.0.0's list_reduce mis-evaluates struct_pack lambdas whose "
        "fields share any acc subexpression (probed: [seed(1,100),"
        "(2,0),(3,0)] under l:=acc.l+e.l, b:=(acc.l+e.l)*10+acc.b "
        "returns b=220, not the sequential 190; the list form returns "
        "190). With the list accumulator the rounded outputs are "
        "bit-identical.",
    oracle="""
        WITH hourly AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        ), s AS (
          SELECT event_type,
                 list_transform(list(n_events ORDER BY bucket_ts),
                                x -> CAST(x AS DOUBLE)) AS l
          FROM hourly GROUP BY event_type
        ), folded AS (
          SELECT event_type, l,
                 CASE WHEN len(l) >= 2 THEN
                   list_reduce(
                     list_prepend(
                       [l[1], l[2] - l[1]],
                       list_transform(l[2:],
                         x -> [x, CAST(0 AS DOUBLE)])),
                     (acc, e) -> [
                       e[1] * CAST(0.3 AS DOUBLE)
                       + (acc[1] + acc[2]) * CAST(0.7 AS DOUBLE),
                       (e[1] * CAST(0.3 AS DOUBLE)
                        + (acc[1] + acc[2]) * CAST(0.7 AS DOUBLE)
                        - acc[1]) * CAST(0.1 AS DOUBLE)
                       + acc[2] * CAST(0.9 AS DOUBLE)])
                 ELSE [l[1], CAST(0 AS DOUBLE)] END AS f
          FROM s
        )
        SELECT event_type,
               CAST(len(l) AS BIGINT) AS n_buckets,
               ROUND(f[1], 6) AS holt_level,
               ROUND(f[2], 6) AS holt_trend,
               ROUND(f[1] + f[2], 6) AS forecast_next
        FROM folded
    """,
)
def ext_holt_forecast(spark, sf_dir):
    from hiero_spark.operators.anomaly import holt_levels

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
                "bucket_ts"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return holt_levels(
        hourly, "event_type", "bucket_ts", "n_events", alpha=0.3, beta=0.1
    )


@query(
    "ext_ols_trend",
    group="ext-window",
    doc="Per-key OLS trend over the hourly cents series "
        "(operators/anomaly.py:ols_trend): slope (cents/hour), "
        "intercept, R² from closed-form sufficient statistics — the "
        "'is this KPI growing and how fast' readout next to "
        "ext_holt_forecast. All five sufficient sums are EXACT longs "
        "(order-free; x re-based per key keeps them small, overflow "
        "headroom documented in the operator), only the final three "
        "expressions touch doubles as identical op sequences on "
        "identical longs — bit-identical across engines, ROUND "
        "display-only. One corpus pass (hourly groupBy) + one bounded "
        "aggregate over keys × hours.",
    oracle="""
        WITH h AS (
          SELECT event_type AS key,
                 CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hb,
                 CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ), b AS (
          SELECT key, hb - MIN(hb) OVER (PARTITION BY key) AS x, y FROM h
        ), s AS (
          SELECT key, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM b GROUP BY key
        )
        SELECT key AS event_type,
               CAST(n AS BIGINT) AS n_hours,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                 AS slope_cents_per_hour,
               ROUND((CAST(sy AS DOUBLE)
                      - CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE), 6) AS intercept_cents,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                 AS r2
        FROM s WHERE n * sxx - sx * sx > 0
    """,
)
def ext_ols_trend(spark, sf_dir):
    from hiero_spark.operators.anomaly import ols_trend

    return ols_trend(t(spark, sf_dir, "events"))


def _bf_iter(prev: str, cur: str) -> str:
    """One Bellman-Ford relaxation round as a CTE (the _pr_oracle_iter
    pattern): every edge relaxed once, exact long min-monoid."""
    return f"""{cur} AS (
          SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT sym.v AS node, {prev}.dist + sym.w AS dist
            FROM {prev} JOIN sym ON sym.u = {prev}.node
          ) GROUP BY node
        )"""


@query(
    "n7_shortest_paths",
    group="N7",
    doc="Weighted shortest supply paths: Bellman-Ford over the customer-"
        "supplier graph with edge weight = the pair's best (min) "
        "order-to-ship lead time in whole days (exact integer DIV of "
        "epoch micros — both engines truncate the positive diff the "
        "same way). 3 relaxation rounds from nation-0 customers = "
        "cheapest cumulative lead time within 3 legs "
        "(functions/graph.py:bellman_ford — bounded rounds ARE the "
        "contract; a weighted distance can improve after discovery, so "
        "rounds are full O(E) relaxations, not BFS frontiers). Oracle "
        "mirrors the identical long min-monoid trajectory as 3 chained "
        "CTEs (the n7_pagerank pattern), hash-checked, no tolerance.",
    oracle=f"""
        WITH e AS (
          SELECT CAST(o_custkey AS BIGINT) AS c,
                 CAST(l_suppkey AS BIGINT) + 1000000 AS s,
                 CAST(MIN((epoch_us(l_shipdate) - epoch_us(o_orderdate))
                          // 86400000000) AS BIGINT) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2
        ),
        sym AS (
          SELECT c AS u, s AS v, w FROM e
          UNION ALL
          SELECT s AS u, c AS v, w FROM e
        ),
        r0 AS (
          SELECT CAST(c_custkey AS BIGINT) AS node,
                 CAST(0 AS BIGINT) AS dist
          FROM customer WHERE c_nationkey = 0
        ),
        {_bf_iter("r0", "r1")},
        {_bf_iter("r1", "r2")},
        {_bf_iter("r2", "r3")}
        SELECT node, dist FROM r3
    """,
)
def n7_shortest_paths(spark, sf_dir):
    from hiero_spark.functions.graph import bellman_ford

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    # l_shipdate/o_orderdate are TIMESTAMP_NTZ; unix_micros needs TIMESTAMP
    # (UTC session TZ makes the cast wall-clock identity, and the DIFFERENCE
    # is TZ-independent either way)
    days = F.expr(
        "(unix_micros(cast(l_shipdate as timestamp))"
        " - unix_micros(cast(o_orderdate as timestamp))) DIV 86400000000"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
        )
        .agg(F.min(days).cast("long").alias("w"))
    )
    sources = cust.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").cast("long").alias("node")
    )
    return bellman_ford(edges, sources, n_rounds=3)


def _lp_iter(prev: str, cur: str) -> str:
    """One label-propagation round as a CTE: seeds clamped, unseeded
    nodes take the deterministic majority (cnt DESC, label ASC)."""
    return f"""{cur} AS (
          SELECT node, label FROM seeds
          UNION ALL
          SELECT node, label FROM (
            SELECT sym.u AS node, {prev}.label,
                   ROW_NUMBER() OVER (
                     PARTITION BY sym.u
                     ORDER BY COUNT(*) DESC, {prev}.label ASC) AS rn
            FROM sym JOIN {prev} ON sym.v = {prev}.node
            GROUP BY sym.u, {prev}.label
          ) WHERE rn = 1 AND node NOT IN (SELECT node FROM seeds)
        )"""


@query(
    "n7_label_propagation",
    group="N7",
    doc="Semi-supervised node classification by label propagation "
        "(functions/graph.py:label_propagation): every 10th doc is a "
        "seed carrying class doc_id%5; 3 rounds of clamped majority "
        "vote over the SAME arithmetic link graph as n7_pagerank. The "
        "argmax is deterministic (cnt DESC, label ASC — the window "
        "fuzzer's total-order lesson), so the whole integer trajectory "
        "is engine- and partitioning-independent and the oracle mirrors "
        "it exactly as 3 chained CTEs; unlabeled neighbors don't vote, "
        "nodes no labeled neighbor has reached stay absent that round.",
    oracle=f"""
        WITH params AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        edges AS (
          SELECT doc_id AS src, (doc_id * 7 + j * 13) % n AS dst
          FROM documents, params, UNNEST([1, 2, 3]) AS u(j)
          WHERE (doc_id * 7 + j * 13) % n <> doc_id
        ),
        sym AS (
          SELECT src AS u, dst AS v FROM edges
          UNION ALL
          SELECT dst AS u, src AS v FROM edges
        ),
        seeds AS (
          SELECT doc_id AS node, CAST(doc_id % 5 AS BIGINT) AS label
          FROM documents WHERE doc_id % 10 = 0
        ),
        {_lp_iter("seeds", "l1")},
        {_lp_iter("l1", "l2")},
        {_lp_iter("l2", "l3")}
        SELECT node, label FROM l3
    """,
)
def n7_label_propagation(spark, sf_dir):
    from hiero_spark.functions.graph import label_propagation

    docs = t(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    edges = (
        docs.select(
            "doc_id",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + F.col("j") * 13) % n).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
    )
    seeds = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("node"), (F.col("doc_id") % 5).alias("label")
    )
    return label_propagation(edges, seeds, n_rounds=3)


@query(
    "n5_rejection_reasons",
    group="N5",
    doc="Per-document rejection audit — the row-level complement of "
        "n5_curation_funnel's counts: each doc is attributed to its "
        "FIRST failing gate in funnel order (lang -> quality -> "
        "dup-line -> 2-gram -> symbol -> stopword, else 'kept'), "
        "aggregated to docs + token mass + the smallest doc_id as a "
        "drill-down example per reason. Same ONE-scan gate expressions "
        "as the funnel (no new passes), one bounded groupBy — at 100 TB "
        "this is the 'why did my documents get dropped' report a "
        "pipeline owner actually debugs with, and reason counts sum to "
        "the corpus by construction (each doc lands in exactly one "
        "bucket, unlike the funnel's cumulative survivors).",
    oracle=r"""
        WITH m AS (
          SELECT doc_id, text,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chr,
                 regexp_split_to_array(text, '\n') AS lines,
                 regexp_split_to_array(trim(text), '\s+') AS toks,
                 length(regexp_replace(text, '[A-Za-z0-9\s.,;:!?()-]', '', 'g')) AS n_sym
          FROM documents
        ), b AS (
          SELECT doc_id, len(toks) AS nt,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM m WHERE len(toks) >= 2
        ), c AS (
          SELECT doc_id, nt, bigram, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3
        ), tg AS (
          SELECT doc_id,
                 ROUND(LEAST(MAX(cnt) * 2.0, CAST(nt AS DOUBLE)) / nt, 6) AS t2g
          FROM c GROUP BY doc_id, nt
        ), f AS (
          SELECT m.doc_id, m.n_tok,
                 (CASE WHEN length(m.text) - length(regexp_replace(m.text, '[一-鿿]', '', 'g')) > 0
                        AND (length(m.text) - length(regexp_replace(m.text, '[一-鿿]', '', 'g'))) * 10
                            >= length(m.text) * 3 THEN 'zh'
                       WHEN contains(' ' || lower(m.text) || ' ', ' the ') THEN 'en'
                       WHEN contains(' ' || lower(m.text) || ' ', ' le ') THEN 'fr'
                       WHEN contains(' ' || lower(m.text) || ' ', ' der ') THEN 'de'
                       WHEN contains(' ' || lower(m.text) || ' ', ' el ') THEN 'es'
                       ELSE 'und' END) = 'en' AS g_lang,
                 LEAST(CAST(m.n_tok AS DOUBLE) / 100.0, 1.0) * 0.6 +
                 (CASE WHEN m.n_chr / CAST(m.n_tok AS DOUBLE) >= 3.0
                        AND m.n_chr / CAST(m.n_tok AS DOUBLE) <= 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.4 >= 0.5 AS g_quality,
                 ROUND(CAST(len(m.lines) - len(list_distinct(m.lines)) AS DOUBLE)
                       / len(m.lines), 6) <= 0.30 AS g_dupline,
                 COALESCE(tg.t2g, 0.0) <= 0.20 AS g_2gram,
                 ROUND(CAST(m.n_sym AS DOUBLE) / len(m.toks), 6) <= 0.10 AS g_symbol,
                 len(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(m.text)), '\s+'),
                   x -> x IN ('the','of','and','to','in','a','is','that','for','it')
                 ))) >= 2 AS g_stop
          FROM m LEFT JOIN tg ON tg.doc_id = m.doc_id
        ), r AS (
          SELECT doc_id, n_tok,
                 CASE WHEN NOT g_lang THEN 'lang_not_en'
                      WHEN NOT g_quality THEN 'quality'
                      WHEN NOT g_dupline THEN 'dup_line'
                      WHEN NOT g_2gram THEN 'top_2gram'
                      WHEN NOT g_symbol THEN 'symbol'
                      WHEN NOT g_stop THEN 'stopword'
                      ELSE 'kept' END AS reason
          FROM f
        )
        SELECT reason,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS example_doc
        FROM r GROUP BY reason
    """,
)
def n5_rejection_reasons(spark, sf_dir):
    # The gate expressions (top_2gram_share's per-doc array_sort above
    # all) are the dominant cost and a single-file corpus scans as ONE
    # task — fan_out spreads the map stage across the session
    # parallelism (guide §2; no-op on a multi-file corpus).
    # Output is a 7-group order-independent aggregation, so the
    # repartition cannot change results.
    docs = tx.with_language_id(
        fan_out(t(spark, sf_dir, "documents"), "doc_id"), "text"
    )
    txt = F.col("text")
    flagged = docs.select(
        "doc_id",
        tx.token_count(txt).alias("n_tok"),
        (F.col("pred_lang") == "en").alias("g_lang"),
        (tx.quality_score(txt) >= 0.5).alias("g_quality"),
        (tx.duplicate_line_fraction(txt) <= 0.30).alias("g_dupline"),
        (tx.top_2gram_share(txt) <= 0.20).alias("g_2gram"),
        (tx.symbol_word_ratio(txt) <= 0.10).alias("g_symbol"),
        tx.prose_gate(txt).alias("g_stop"),
    )
    reason = (
        F.when(~F.col("g_lang"), "lang_not_en")
        .when(~F.col("g_quality"), "quality")
        .when(~F.col("g_dupline"), "dup_line")
        .when(~F.col("g_2gram"), "top_2gram")
        .when(~F.col("g_symbol"), "symbol")
        .when(~F.col("g_stop"), "stopword")
        .otherwise("kept")
    )
    return (
        flagged.select("doc_id", "n_tok", reason.alias("reason"))
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("example_doc"),
        )
    )


@query(
    "ext_winsorize",
    group="ext-agg",
    doc="Per-key winsorization report (operators/anomaly.py:"
        "winsorize_stats): exact rank-based [p1, p99] clamp bounds over "
        "event value cents, rows clamped each side, winsorized sum — "
        "the outlier-robust preprocessing audit. Percentile = smallest "
        "value whose cumulative count reaches ceil(q*n/100), integer "
        "arithmetic only (no interpolation mode to disagree on). Scale "
        "shape: collapse to DISTINCT (key, cents) counts first (Zipf "
        "compression — the cumulative window runs over the bounded "
        "distinct-value series, never raw rows), bounds broadcast back, "
        "one conditional aggregate. Exact longs end to end.",
    oracle="""
        WITH v AS (
          SELECT event_type AS key,
                 CAST(ROUND(value * 100, 0) AS BIGINT) AS c
          FROM events
        ), d AS (
          SELECT key, c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM v GROUP BY 1, 2
        ), cum AS (
          SELECT key, c, cnt,
                 SUM(cnt) OVER (PARTITION BY key ORDER BY c) AS cm,
                 SUM(cnt) OVER (PARTITION BY key) AS n
          FROM d
        ), b AS (
          SELECT key, MAX(n) AS n,
                 MIN(CASE WHEN cm >= (n * 1 + 99) // 100 THEN c END) AS lo_cents,
                 MIN(CASE WHEN cm >= (n * 99 + 99) // 100 THEN c END) AS hi_cents
          FROM cum GROUP BY key
        )
        SELECT d.key AS event_type,
               CAST(b.n AS BIGINT) AS n,
               CAST(b.lo_cents AS BIGINT) AS lo_cents,
               CAST(b.hi_cents AS BIGINT) AS hi_cents,
               CAST(SUM(CASE WHEN d.c < b.lo_cents THEN d.cnt ELSE 0 END)
                    AS BIGINT) AS n_clamped_lo,
               CAST(SUM(CASE WHEN d.c > b.hi_cents THEN d.cnt ELSE 0 END)
                    AS BIGINT) AS n_clamped_hi,
               CAST(SUM(LEAST(GREATEST(d.c, b.lo_cents), b.hi_cents) * d.cnt)
                    AS BIGINT) AS winsorized_sum_cents
        FROM d JOIN b USING (key)
        GROUP BY d.key, b.n, b.lo_cents, b.hi_cents
    """,
)
def ext_winsorize(spark, sf_dir):
    from hiero_spark.operators.anomaly import winsorize_stats

    return winsorize_stats(t(spark, sf_dir, "events"))


@query(
    "n6_dataset_card",
    group="N6",
    doc="Dataset card (datasheet) per source — the one-page artifact a "
        "corpus release ships: docs, token/char mass, exact-duplicate "
        "rate (distinct md5 fingerprints), language share, mean doc "
        "length, mean quality. Quality is aggregated in EXACT "
        "MILLI-UNITS (quality_score's two terms are min(n_tok,100)*6 "
        "and 400/200 — integer per doc, so the corpus sum is an exact "
        "long and the mean is one final division; summing raw doubles "
        "would be order-dependent). One scan of conditional sums + one "
        "fingerprint-distinct shuffle per source; output bounded by "
        "the source domain.",
    oracle=r"""
        WITH m AS (
          SELECT source, lang, md5(text) AS fp,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tok,
                 CAST(length(text) AS BIGINT) AS n_chr
          FROM documents
        ), q AS (
          SELECT source, lang, fp, n_tok, n_chr,
                 LEAST(n_tok, 100) * 6 +
                 (CASE WHEN CAST(n_chr AS DOUBLE) / n_tok >= 3.0
                        AND CAST(n_chr AS DOUBLE) / n_tok <= 10.0
                       THEN 400 ELSE 200 END) AS q_milli
          FROM m
        ), d AS (
          SELECT source, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp
          FROM q GROUP BY source
        )
        SELECT q.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chr) AS BIGINT) AS n_chars,
               CAST(MAX(d.n_fp) AS BIGINT) AS n_distinct,
               ROUND(1.0 - MAX(d.n_fp) * 1.0 / COUNT(*), 6) AS dup_rate,
               ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS en_share,
               ROUND(SUM(n_tok) * 1.0 / COUNT(*), 6) AS mean_doc_tokens,
               ROUND(SUM(q_milli) * 1.0 / (1000 * COUNT(*)), 6) AS mean_quality
        FROM q JOIN d ON d.source = q.source
        GROUP BY q.source
    """,
)
def n6_dataset_card(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    txt = F.col("text")
    n_tok = tx.token_count(txt)
    n_chr = F.length(txt).cast("long")
    avg_word = n_chr.cast("double") / n_tok.cast("double")
    q_milli = (
        F.least(n_tok, F.lit(100)) * 6
        + F.when((avg_word >= 3.0) & (avg_word <= 10.0), 400).otherwise(200)
    ).cast("long")
    base = docs.select(
        "source",
        "lang",
        tx.fingerprint(txt).alias("fp"),
        n_tok.alias("n_tok"),
        n_chr.alias("n_chr"),
        q_milli.alias("q_milli"),
    )
    d = base.groupBy("source").agg(
        F.count_distinct("fp").cast("long").alias("n_fp")
    )
    return (
        base.join(F.broadcast(d), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_chr").cast("long").alias("n_chars"),
            F.max("n_fp").cast("long").alias("n_distinct"),
            F.round(
                F.lit(1.0) - F.max("n_fp") * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
            F.round(
                F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("en_share"),
            F.round(F.sum("n_tok") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "mean_doc_tokens"
            ),
            F.round(
                F.sum("q_milli") * F.lit(1.0) / (F.lit(1000) * F.count(F.lit(1))),
                6,
            ).alias("mean_quality"),
        )
    )


@query(
    "ext_lateness_audit",
    group="ext-agg",
    doc="Watermark-sizing audit: the lateness distribution (ingest time "
        "minus event time) per event type — exact rank-based p50/p99/"
        "max lateness seconds and the share of rows a 1-hour watermark "
        "would have dropped. THE measurement that sizes X1-X24's "
        "watermarks: pick the bound from p99, audit the drop share it "
        "implies. Ingest clock is the documented deterministic stand-in "
        "(event_id * 7919 % 7200 s — the with_synthetic_ingest_ts "
        "convention; production uses the real ingest column, everything "
        "downstream is agnostic). Lateness values collapse to DISTINCT "
        "(type, seconds) counts before the cumulative window (the "
        "winsorize_stats shape — bounded by the delay domain, never "
        "raw rows); percentile = smallest value whose cumulative count "
        "reaches ceil(q*n/100), exact longs.",
    oracle="""
        WITH v AS (
          SELECT event_type AS key,
                 CAST((event_id * 7919) % 7200 AS BIGINT) AS late_s
          FROM events
        ), d AS (
          SELECT key, late_s, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM v GROUP BY 1, 2
        ), cum AS (
          SELECT key, late_s, cnt,
                 SUM(cnt) OVER (PARTITION BY key ORDER BY late_s) AS cm,
                 SUM(cnt) OVER (PARTITION BY key) AS n
          FROM d
        )
        SELECT key AS event_type,
               CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(MIN(CASE WHEN cm >= (n * 50 + 99) // 100
                             THEN late_s END) AS BIGINT) AS p50_lateness_s,
               CAST(MIN(CASE WHEN cm >= (n * 99 + 99) // 100
                             THEN late_s END) AS BIGINT) AS p99_lateness_s,
               CAST(MAX(late_s) AS BIGINT) AS max_lateness_s,
               ROUND(SUM(CASE WHEN late_s > 3600 THEN cnt ELSE 0 END) * 1.0
                     / MAX(n), 6) AS dropped_at_1h_share
        FROM cum GROUP BY key
    """,
)
def ext_lateness_audit(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    late = ((F.col("event_id") * 7919) % 7200).cast("long")
    d = (
        ev.select(F.col("event_type").alias("key"), late.alias("late_s"))
        .groupBy("key", "late_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = Window.partitionBy("key").orderBy("late_s")
    wall = Window.partitionBy("key")
    cum = d.select(
        "key",
        "late_s",
        "cnt",
        F.sum("cnt").over(wcum).alias("cm"),
        F.sum("cnt").over(wall).alias("n"),
    )
    pct = lambda q: F.min(  # noqa: E731
        F.when(F.col("cm") >= F.expr(f"(n * {q} + 99) DIV 100"), F.col("late_s"))
    ).cast("long")
    return cum.groupBy(F.col("key").alias("event_type")).agg(
        F.max("n").cast("long").alias("n_rows"),
        pct(50).alias("p50_lateness_s"),
        pct(99).alias("p99_lateness_s"),
        F.max("late_s").cast("long").alias("max_lateness_s"),
        F.round(
            F.sum(F.when(F.col("late_s") > 3600, F.col("cnt")).otherwise(0))
            * F.lit(1.0)
            / F.max("n"),
            6,
        ).alias("dropped_at_1h_share"),
    )


@query(
    "n6_padding_waste",
    group="N6",
    doc="Padding-waste analysis for batched training: docs bucketed by "
        "length (64-token granularity, capped at the 512 max sequence "
        "length) with, per bucket, doc/token mass, padding tokens under "
        "LENGTH-BUCKETED batching (pad to bucket top) vs NAIVE batching "
        "(pad everything to 512), and the padding fractions — the number "
        "that justifies length-grouped batching, computed exactly. Pure "
        "integer expressions off the one token-count scan; truncated "
        "docs (>512) contribute zero padding by definition.",
    oracle=r"""
        WITH m AS (
          SELECT doc_id,
                 LEAST(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT), 512) AS n_tok
          FROM documents
        ), b AS (
          SELECT doc_id, n_tok,
                 LEAST(((n_tok + 63) // 64) * 64, 512) AS bucket
          FROM m
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(bucket - n_tok) AS BIGINT) AS pad_bucketed,
               CAST(SUM(512 - n_tok) AS BIGINT) AS pad_naive,
               ROUND(SUM(bucket - n_tok) * 1.0 / SUM(bucket), 6)
                 AS bucketed_waste_frac,
               ROUND(SUM(512 - n_tok) * 1.0 / (512 * COUNT(*)), 6)
                 AS naive_waste_frac
        FROM b GROUP BY bucket
    """,
)
def n6_padding_waste(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_tok = F.least(tx.token_count(F.col("text")), F.lit(512)).alias("n_tok")
    b = docs.select(n_tok).select(
        "n_tok",
        F.least(
            ((F.col("n_tok") + 63) / 64).cast("long") * 64, F.lit(512)
        ).alias("bucket"),
    )
    return b.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum(F.col("bucket") - F.col("n_tok")).cast("long").alias("pad_bucketed"),
        F.sum(F.lit(512) - F.col("n_tok")).cast("long").alias("pad_naive"),
        F.round(
            F.sum(F.col("bucket") - F.col("n_tok"))
            * F.lit(1.0)
            / F.sum("bucket"),
            6,
        ).alias("bucketed_waste_frac"),
        F.round(
            F.sum(F.lit(512) - F.col("n_tok"))
            * F.lit(1.0)
            / (F.lit(512) * F.count(F.lit(1))),
            6,
        ).alias("naive_waste_frac"),
    )


@query(
    "n4_pr_curve",
    group="N4",
    doc="Precision/recall threshold sweep — model evaluation inside the "
        "engine: the quality heuristic (exact MILLI-UNIT score, the "
        "n6_dataset_card formulation) as a predictor of the prose gate, "
        "swept over a fixed threshold grid (300..900 by 100). Scale "
        "shape: the corpus collapses to DISTINCT (score, label) counts "
        "first (score domain is a few hundred values — the winsorize "
        "Zipf argument), then the 7-threshold confusion table is a "
        "7-way fan-out of that tiny frame, never of the corpus. "
        "TP/FP/FN/TN are exact longs; precision/recall/F1 are one "
        "final division each, ROUND display-only.",
    oracle=r"""
        WITH m AS (
          SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tok,
                 CAST(length(text) AS BIGINT) AS n_chr,
                 (len(list_distinct(list_filter(
                    regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> x IN ('the','of','and','to','in','a','is','that','for','it')
                  ))) >= 2) AS label
          FROM documents
        ), s AS (
          SELECT LEAST(n_tok, 100) * 6 +
                 (CASE WHEN CAST(n_chr AS DOUBLE) / n_tok >= 3.0
                        AND CAST(n_chr AS DOUBLE) / n_tok <= 10.0
                       THEN 400 ELSE 200 END) AS q_milli,
                 label, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM m GROUP BY 1, 2
        ), sweep AS (
          SELECT thr, q_milli, label, cnt
          FROM s, UNNEST([300, 400, 500, 600, 700, 800, 900]) AS u(thr)
        )
        SELECT CAST(thr AS BIGINT) AS threshold_milli,
               CAST(SUM(CASE WHEN q_milli >= thr AND label THEN cnt ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN q_milli >= thr AND NOT label THEN cnt ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN q_milli < thr AND label THEN cnt ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN q_milli < thr AND NOT label THEN cnt ELSE 0 END)
                    AS BIGINT) AS tn,
               ROUND(SUM(CASE WHEN q_milli >= thr AND label THEN cnt ELSE 0 END)
                     * 1.0
                     / NULLIF(SUM(CASE WHEN q_milli >= thr THEN cnt ELSE 0 END), 0),
                     6) AS precision,
               ROUND(SUM(CASE WHEN q_milli >= thr AND label THEN cnt ELSE 0 END)
                     * 1.0
                     / NULLIF(SUM(CASE WHEN label THEN cnt ELSE 0 END), 0),
                     6) AS recall
        FROM sweep GROUP BY thr
    """,
)
def n4_pr_curve(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    txt = F.col("text")
    n_tok = tx.token_count(txt)
    n_chr = F.length(txt).cast("long")
    avg_word = n_chr.cast("double") / n_tok.cast("double")
    q_milli = (
        F.least(n_tok, F.lit(100)) * 6
        + F.when((avg_word >= 3.0) & (avg_word <= 10.0), 400).otherwise(200)
    ).cast("long")
    s = (
        docs.select(
            q_milli.alias("q_milli"), tx.prose_gate(txt).alias("label")
        )
        .groupBy("q_milli", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    thr = F.explode(
        F.array(*[F.lit(v) for v in (300, 400, 500, 600, 700, 800, 900)])
    ).alias("thr")
    sweep = s.select("q_milli", "label", "cnt", thr)
    pred = F.col("q_milli") >= F.col("thr")
    c = lambda cond: F.sum(F.when(cond, F.col("cnt")).otherwise(0)).cast("long")  # noqa: E731
    return sweep.groupBy(F.col("thr").cast("long").alias("threshold_milli")).agg(
        c(pred & F.col("label")).alias("tp"),
        c(pred & ~F.col("label")).alias("fp"),
        c(~pred & F.col("label")).alias("fn"),
        c(~pred & ~F.col("label")).alias("tn"),
        F.round(
            c(pred & F.col("label")) * F.lit(1.0) / F.nullif(c(pred), F.lit(0)),
            6,
        ).alias("precision"),
        F.round(
            c(pred & F.col("label"))
            * F.lit(1.0)
            / F.nullif(c(F.col("label")), F.lit(0)),
            6,
        ).alias("recall"),
    )


@query(
    "ext_cusum_changepoint",
    group="ext-agg",
    doc="CUSUM change-point detection over the daily order-arrival series "
        "— the level-shift detector an ingest monitor runs next to the "
        "rolling-MAD anomaly gate (ext_rolling_anomaly catches spikes; "
        "CUSUM catches sustained drifts a spike test never trips on). "
        "The statistic is kept EXACT by scaling: S_t * days = "
        "days * cumsum_t(n) - t * total is all-BIGINT arithmetic, so the "
        "top-3 |S| days are hash-checked with no float in the loop. "
        "Bounded output: the daily series is O(date domain), the windows "
        "run over that bounded aggregate, never the fact table.",
    oracle="""
        WITH d AS (
          SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS n
          FROM orders GROUP BY 1
        ), s AS (
          SELECT day,
                 SUM(n) OVER (ORDER BY day) AS cum,
                 ROW_NUMBER() OVER (ORDER BY day) AS t,
                 SUM(n) OVER () AS total,
                 COUNT(*) OVER () AS days
          FROM d
        )
        SELECT day, CAST(days * cum - t * total AS BIGINT) AS s_scaled
        FROM s
        ORDER BY ABS(days * cum - t * total) DESC, day ASC
        LIMIT 3
    """,
)
def ext_cusum_changepoint(spark, sf_dir):
    from hiero_spark.operators.anomaly import cusum_scaled
    from hiero_spark.queries._util import day_str

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(day_str(F.col("o_orderdate")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cusum_scaled(daily)
        .orderBy(F.abs(F.col("s_scaled")).desc(), F.asc("day"))
        .limit(3)
    )


@query(
    "n4_kappa_agreement",
    group="N4",
    doc="Cohen's kappa between two quality raters (the label-QC statistic "
        "an annotation pipeline gates on): rater A = length gate "
        "(n_chars >= 500), rater B = token-count gate (>= 80 whitespace "
        "tokens, the n4_token_count tokenizer). Kappa is computed from "
        "the 2x2 agreement table with an N^2-scaled integer numerator "
        "and denominator — (po - pe) / (1 - pe) multiplied through by "
        "N^2 keeps every term an exact BIGINT and leaves ONE IEEE "
        "division, so the statistic hash-checks exactly.",
    oracle=r"""
        WITH g AS (
          SELECT CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS a,
                 CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 80
                      THEN 1 ELSE 0 END AS b
          FROM documents
        ), m AS (
          SELECT CAST(SUM(a * b) AS BIGINT) AS n11,
                 CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                 CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                 CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM g
        )
        SELECT n11, n10, n01, n00,
               ROUND(CAST(n * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                     / CAST(n * n - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)) AS DOUBLE),
                     6) AS kappa
        FROM m
    """,
)
def n4_kappa_agreement(spark, sf_dir):
    from hiero_spark.functions import text as tx

    docs = t(spark, sf_dir, "documents")
    g = docs.select(
        F.when(F.col("n_chars") >= 500, 1).otherwise(0).alias("a"),
        F.when(tx.token_count(F.col("text")) >= 80, 1).otherwise(0).alias("b"),
    )
    m = g.agg(
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    kappa = (
        (F.col("n") * (F.col("n11") + F.col("n00")) - pe_num).cast("double")
        / (F.col("n") * F.col("n") - pe_num).cast("double")
    )
    return m.select(
        "n11", "n10", "n01", "n00", F.round(kappa, 6).alias("kappa")
    )


@query(
    "ext_target_encoding",
    group="ext-agg",
    doc="m-estimate target encoding of a categorical feature — the "
        "leakage-prone tabular-ML preprocessing step done right at the "
        "engine: encode o_orderpriority by the smoothed mean order value "
        "(cents), (sum_c + m * global_mean) / (n_c + m) with m=10, which "
        "shrinks rare categories toward the prior. Sums are exact "
        "scaled-integer cents; the global mean and the final encode are "
        "the ONLY double ops and share one expression shape across "
        "engines, so the encoding is hash-checked. Train/serve contract: "
        "the output IS the lookup table (one row per category, "
        "broadcastable at any scale); computing it on the TRAIN split "
        "only is the caller's leakage hygiene (n6_leakage_safe_split).",
    oracle="""
        WITH base AS (
          SELECT o_orderpriority AS category,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ), g AS (
          SELECT CAST(SUM(cents) AS BIGINT) AS s_all,
                 CAST(COUNT(*) AS BIGINT) AS n_all
          FROM base
        ), c AS (
          SELECT category,
                 CAST(SUM(cents) AS BIGINT) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM base GROUP BY 1
        )
        SELECT category,
               n AS n_rows,
               ROUND((CAST(s AS DOUBLE)
                      + 10.0 * (CAST(s_all AS DOUBLE) / n_all))
                     / (n + 10), 4) AS encoded_cents
        FROM c CROSS JOIN g
    """,
)
def ext_target_encoding(spark, sf_dir):
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = base.agg(
        F.sum("cents").cast("long").alias("s_all"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    c = base.groupBy("category").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    enc = (
        c.crossJoin(F.broadcast(g))
        .select(
            "category",
            F.col("n").alias("n_rows"),
            F.round(
                (
                    F.col("s").cast("double")
                    + F.lit(10.0) * (F.col("s_all").cast("double") / F.col("n_all"))
                )
                / (F.col("n") + 10),
                4,
            ).alias("encoded_cents"),
        )
    )
    return enc
