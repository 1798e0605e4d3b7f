"""North-star pipeline queries (SURVEY.md §2.11 N1–N4): dedup, similarity
search, multimodal plumbing, text analysis over documents/embeddings."""

from __future__ import annotations

from pyspark.sql import functions as F

from hiero_spark.functions import dedup as dd
from hiero_spark.functions import similarity as sim
from hiero_spark.functions.graph import connected_components
from hiero_spark.functions import text as tx
from hiero_spark.registry import query
from hiero_spark.queries._util import t


# ---------------------------------------------------------------------------
# N1 — deduplication
# ---------------------------------------------------------------------------

@query(
    "n1_dedup_exact",
    group="N1",
    doc="Exact dedup via content fingerprint: representative id + dup count "
        "per distinct text.",
    oracle="""
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM documents GROUP BY md5(text)
    """,
)
def n1_dedup_exact(spark, sf_dir):
    return dd.exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "n1_shingle_count",
    group="N1",
    doc="Shingling stage: distinct word-3-gram count per doc (first stage of "
        "MinHash dedup; oracle recomputes shingle sets in SQL).",
    oracle="""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 1) + 1)) AS t(i)
        )
        SELECT doc_id AS doc, CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_shingles
        FROM grams GROUP BY doc_id
    """,
)
def n1_shingle_count(spark, sf_dir):
    sh = dd.shingles(t(spark, sf_dir, "documents"), "text", "doc_id", k=3)
    return sh.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n_shingles"))


@query(
    "n1_minhash_near_dups",
    group="N1",
    doc="MinHash+LSH near-dup pairs, Jaccard-verified (rows-only: hash "
        "functions aren't SQL-reproducible; recall/precision asserted in "
        "unit tests against exact Jaccard).",
    oracle=None,
)
def n1_minhash_near_dups(spark, sf_dir):
    return dd.minhash_near_dups(
        t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "n1_minhash_recall",
    group="N1",
    doc="MinHash+LSH quality as a hashable property verdict: the exact "
        "near-dup pair count anchors the oracle to the data; booleans "
        "assert LSH recall >= 0.8 against the exact pairs and that every "
        "emitted pair is exact-verified (precision). Complements the "
        "rows-only n1_minhash_near_dups, whose pair set depends on hash "
        "seeds no SQL engine reproduces.",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id AS doc, array_to_string(w[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 1) + 1)) AS u(i)
        ), sizes AS (
          SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
        ), inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
               TRUE AS recall_ok, TRUE AS precision_ok
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    """,
)
def n1_minhash_recall(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    mh = dd.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).select(
        "doc_a", "doc_b"
    )
    ex = dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    hit = mh.join(ex, ["doc_a", "doc_b"], "left_semi")
    false_pos = mh.join(ex, ["doc_a", "doc_b"], "left_anti")
    counts = (
        ex.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .join(F.broadcast(hit.agg(F.count(F.lit(1)).alias("_n_hit"))))
        .join(F.broadcast(false_pos.agg(F.count(F.lit(1)).alias("_n_fp"))))
    )
    return counts.select(
        "n_exact_pairs",
        (
            (F.col("n_exact_pairs") == 0)
            | (F.col("_n_hit") / F.col("n_exact_pairs") >= 0.8)
        ).alias("recall_ok"),
        (F.col("_n_fp") == 0).alias("precision_ok"),
    )


@query(
    "n1_ngram_jaccard",
    group="N1",
    doc="Exact n-gram Jaccard near-dup pairs (the oracle-able exact form; at "
        "corpus scale this runs only behind the LSH candidate filter).",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id AS doc, array_to_string(w[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 1) + 1)) AS u(i)
        ), sizes AS (
          SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
        ), inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        )
        SELECT i.doc_a, i.doc_b,
               CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.4
    """,
)
def n1_ngram_jaccard(spark, sf_dir):
    return dd.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=3, threshold=0.4
    )


@query(
    "n1_repeated_span_pairs",
    group="N1",
    doc="Exact long-span overlap (Lee et al. 2022 'Deduplicating Training "
        "Data' signal at pair granularity): doc pairs sharing any verbatim "
        "16-token span — catches copied paragraphs inside otherwise-unique "
        "docs, the case whole-doc MinHash misses. Spark groups md5(span) "
        "16-byte keys; oracle recomputes span strings directly (identical "
        "partition of spans, 2^-128 collision risk).",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), sp AS (
          SELECT DISTINCT doc_id AS doc, array_to_string(w[i:i+15], ' ') AS span
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 15, 1) + 1)) AS u(i)
        ), counts AS (
          SELECT span, COUNT(*) AS nd FROM sp GROUP BY span
        ), ok AS (
          SELECT span FROM counts WHERE nd BETWEEN 2 AND 200
        )
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               COUNT(*) AS n_shared_spans
        FROM sp a JOIN sp b ON a.span = b.span AND a.doc < b.doc
        JOIN ok ON ok.span = a.span
        GROUP BY 1, 2
    """,
)
def n1_repeated_span_pairs(spark, sf_dir):
    return dd.repeated_span_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=16, max_span_docs=200
    )


@query(
    "n1_minhash_star_verdict",
    group="N1",
    doc="Hot-bucket star mode (round-8: functions/dedup.py:"
        "lsh_candidate_pairs hot_mode='star') as a hashable property "
        "verdict: docs with doc_id < 40 are rewritten to one boilerplate "
        "template (29 fixed words + 1 of 4 variants -> cross-variant "
        "3-gram Jaccard 25/31, a planted hot cluster whose every LSH "
        "band bucket exceeds max_bucket=20). Anchor = the SQL-computable "
        "cluster size; booleans assert the star path links every hot doc "
        "to the cluster's min id (drop mode would lose them all) and "
        "that no verified pair mixes hot and real docs. Deterministic: "
        "xxhash64 over deterministic text.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hot,
               TRUE AS cluster_fully_linked, TRUE AS no_cross_pairs
        FROM documents WHERE doc_id < 40
    """,
)
def n1_minhash_star_verdict(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    hot_text = F.concat_ws(
        " ",
        *[F.lit("b%d" % j) for j in range(29)],
        F.concat(F.lit("v"), (F.col("doc_id") % 4).cast("string")),
    )
    corpus = docs.select(
        "doc_id",
        F.when(F.col("doc_id") < 40, hot_text)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pairs = dd.minhash_near_dups(
        corpus, "text", "doc_id", max_bucket=20, hot_mode="star"
    )
    hotstats = corpus.filter(F.col("doc_id") < 40).agg(
        F.count(F.lit(1)).cast("long").alias("n_hot"),
        F.min("doc_id").alias("_min_id"),
    )
    agg = (
        pairs.join(F.broadcast(hotstats))
        .groupBy("n_hot", "_min_id")
        .agg(
            F.count_distinct(
                F.when(
                    (F.col("doc_a") == F.col("_min_id"))
                    & (F.col("doc_b") < 40),
                    F.col("doc_b"),
                )
            ).alias("_linked"),
            F.sum(
                F.when(
                    (F.col("doc_a") < 40) != (F.col("doc_b") < 40), 1
                ).otherwise(0)
            ).alias("_mixed"),
        )
    )
    return agg.select(
        "n_hot",
        (F.col("_linked") == F.col("n_hot") - 1).alias("cluster_fully_linked"),
        (F.col("_mixed") == 0).alias("no_cross_pairs"),
    )


@query(
    "n1_simhash",
    group="N1",
    doc="64-bit SimHash per document (rows-only; Hamming-distance behavior "
        "asserted in unit tests and driver-hashed via n1_simhash_verdict).",
    oracle=None,
)
def n1_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.simhash64(docs, "text")


@query(
    "n1_simhash_verdict",
    group="N1",
    doc="SimHash quality as a hashable property verdict: anchor = exact "
        "count of near-dup pairs (3-gram Jaccard >= 0.5, SQL-computable); "
        "booleans assert near-dup pairs stay within Hamming distance 8 "
        "(measured max 5 at sf0.01) while unrelated gram-sharing pairs "
        "average >= 12 (measured 16.8) — the separation that makes SimHash "
        "bucketing work. Complements rows-only n1_simhash.",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id AS doc, array_to_string(w[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 1) + 1)) AS u(i)
        ), sizes AS (
          SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
        ), inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) FILTER (
                 WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
               ) AS BIGINT) AS n_near_pairs,
               TRUE AS near_compact, TRUE AS far_spread
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
    """,
)
def n1_simhash_verdict(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.0)
    sh = tx.simhash64(docs.select("doc_id", "text"), "text")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sh_b"))
    j = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            (F.col("jaccard") >= 0.5).alias("_near"),
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))).alias("_ham"),
        )
    )
    agg = j.agg(
        F.count(F.when(F.col("_near"), 1)).alias("n_near_pairs"),
        F.max(F.when(F.col("_near"), F.col("_ham"))).alias("_near_max"),
        F.avg(F.when(~F.col("_near"), F.col("_ham"))).alias("_far_avg"),
    )
    # empty-side guards: no near pairs / no far pairs degrade to TRUE
    return agg.select(
        "n_near_pairs",
        F.coalesce(F.col("_near_max") <= 8, F.lit(True)).alias("near_compact"),
        F.coalesce(F.col("_far_avg") >= 12, F.lit(True)).alias("far_spread"),
    )


# ---------------------------------------------------------------------------
# N2 — similarity search
# ---------------------------------------------------------------------------

def _query_vec(spark, sf_dir):
    row = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


@query(
    "n2_ann_brute_force",
    group="N2",
    doc="Exact cosine top-10 neighbors of vec_id 0 (brute-force baseline). "
        "Similarity rounded to 4 decimals; DuckDB mirrors the same "
        "float->double cast and sum order via list_cosine_similarity? No — "
        "oracle recomputes with list comprehension arithmetic for identical "
        "association order.",
    oracle="""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cs
          FROM embeddings, q
        )
        SELECT neighbor_id, ROUND(cs, 4) AS cos_sim
        FROM scored ORDER BY cs DESC, neighbor_id ASC LIMIT 10
    """,
)
def n2_ann_brute_force(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    out = sim.brute_force_topk(t(spark, sf_dir, "embeddings"), qv, k=10)
    return out.select("neighbor_id", F.round("cos_sim", 4).alias("cos_sim"))


@query(
    "n2_hybrid_rrf",
    group="N2",
    doc="Hybrid retrieval with reciprocal-rank fusion (round 8): BM25 "
        "top-50 over documents and exact cosine top-50 over embeddings "
        "(vec_id aligned with doc_id), fused as sum of 1/(60+rank) over "
        "the sources listing the doc — the standard lexical+vector RAG "
        "recipe. Ranks are computed over ROUNDED scores with doc_id "
        "tiebreaks, so both engines derive identical integer ranks from "
        "the already-hash-pinned BM25 and cosine pipelines; the fusion "
        "itself is two IEEE divisions and one fixed-order sum — exact. "
        "Scale: each leg is its own bounded top-k (TakeOrdered / pruned "
        "probe at scale), fusion joins 50-row frames.",
    oracle=r"""
        WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(len(w)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM d
        ), toks AS (
          SELECT doc_id, len(w) AS dl, unnest(w) AS tok FROM d
        ), tf AS (
          SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
          FROM toks WHERE tok IN ('spark', 'join', 'window', 'stream')
          GROUP BY 1, 2, 3
        ), dfreq AS (
          SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok
        ), contrib AS (
          SELECT tf.doc_id, tf.tok,
                 (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)
                 * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))
                   AS c
          FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
        ), agg AS (
          SELECT doc_id,
                 list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY tok)),
                   (a, x) -> a + x) AS s
          FROM contrib GROUP BY doc_id
        ), txt AS (
          SELECT doc_id, ROUND(s, 6) AS bm25
          FROM agg ORDER BY s DESC, doc_id ASC LIMIT 50
        ), txtr AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS t_rank
          FROM txt
        ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id AS doc_id,
                 list_sum(list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cs
          FROM embeddings, q
        ), vecs AS (
          SELECT doc_id, ROUND(cs, 6) AS cs
          FROM scored ORDER BY cs DESC, doc_id ASC LIMIT 50
        ), vecr AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id ASC) AS v_rank
          FROM vecs
        ), fused AS (
          SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
                 COALESCE(CAST(1 AS DOUBLE) / (t.t_rank + 60), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / (v.v_rank + 60), 0) AS rrf,
                 t.t_rank IS NOT NULL AS in_text,
                 v.v_rank IS NOT NULL AS in_vector
          FROM txtr t FULL OUTER JOIN vecr v ON v.doc_id = t.doc_id
        )
        SELECT doc_id, ROUND(rrf, 6) AS rrf, in_text, in_vector
        FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
)
def n2_hybrid_rrf(spark, sf_dir):
    from pyspark.sql.window import Window

    from hiero_spark.functions.bm25 import bm25_topk

    terms = ["spark", "join", "window", "stream"]
    text = bm25_topk(t(spark, sf_dir, "documents"), terms, k=50)
    wt = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    txtr = text.select("doc_id", "bm25").withColumn(
        "t_rank", F.row_number().over(wt)
    )
    qv = _query_vec(spark, sf_dir)
    vec = sim.brute_force_topk(t(spark, sf_dir, "embeddings"), qv, k=50)
    vecs = vec.select(
        F.col("neighbor_id").alias("doc_id"),
        F.round("cos_sim", 6).alias("cs"),
    )
    wv = Window.orderBy(F.desc("cs"), F.asc("doc_id"))
    vecr = vecs.withColumn("v_rank", F.row_number().over(wv))
    one = F.lit(1.0)
    fused = (
        txtr.select("doc_id", "t_rank")
        .join(vecr.select("doc_id", "v_rank"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(one / (F.col("t_rank") + 60), F.lit(0.0))
                + F.coalesce(one / (F.col("v_rank") + 60), F.lit(0.0))
            ).alias("_rrf"),
            F.col("t_rank").isNotNull().alias("in_text"),
            F.col("v_rank").isNotNull().alias("in_vector"),
        )
    )
    return (
        fused.orderBy(F.desc("_rrf"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id", F.round("_rrf", 6).alias("rrf"), "in_text", "in_vector"
        )
    )


@query(
    "n2_ann_lsh",
    group="N2",
    doc="ANN via random-hyperplane LSH bucket probe (rows-only; recall vs "
        "brute force asserted in unit tests and driver-hashed via "
        "n2_ann_lsh_verdict).",
    oracle=None,
)
def n2_ann_lsh(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    out = sim.lsh_bucketed_topk(t(spark, sf_dir, "embeddings"), qv, k=10, bits=6)
    return out.select("neighbor_id", F.round("cos_sim", 4).alias("cos_sim"))


@query(
    "n2_ann_lsh_verdict",
    group="N2",
    doc="LSH ANN quality as a hashable property verdict: anchor = corpus "
        "size; booleans assert recall@10 >= 0.2 vs the exact brute-force "
        "top-10 (measured 0.3 at sf0.01 with bits=6 + Hamming-1 multi-"
        "probe; the sf embeddings are near-random so angular LSH recall is "
        "structurally modest — documented, not hidden) and that the query "
        "vector finds itself.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               TRUE AS recall_ok, TRUE AS self_found
        FROM embeddings
    """,
)
def n2_ann_lsh_verdict(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    exact = sim.brute_force_topk(emb, qv, k=10).select("neighbor_id")
    lsh = sim.lsh_bucketed_topk(emb, qv, k=10, bits=6, probe_hamming=1).select(
        "neighbor_id"
    )
    hit = lsh.join(exact, "neighbor_id", "left_semi")
    return (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(F.broadcast(hit.agg(F.count(F.lit(1)).alias("_n_hit"))))
        .join(
            F.broadcast(
                lsh.filter(F.col("neighbor_id") == 0).agg(
                    F.count(F.lit(1)).alias("_n_self")
                )
            )
        )
        .select(
            "n_vectors",
            (F.col("_n_hit") >= 2).alias("recall_ok"),
            (F.col("_n_self") == 1).alias("self_found"),
        )
    )


@query(
    "n2_embedding_near_dups",
    group="N2",
    doc="Embedding-cosine near-dup pairs via LSH self-join over the corpus "
        "plus 8 planted exact-duplicate vectors (the 8 lowest vec_ids "
        "copied under ids offset by max(10_000_000, max(vec_id)+1) — "
        "derived from the data, r13 ADVICE, so planted ids can never "
        "collide with organic vec_ids at any corpus size; at every "
        "shipped SF the offset evaluates to exactly the historical "
        "10_000_000, emitted rows unchanged).  The planted copies make "
        "the rows-only check non-vacuous — identical vectors share every "
        "LSH bucket and score cos ~1.0 >= 0.9, so >= 8 pairs MUST surface "
        "in every run at any scale (the round-12 verdict flagged the "
        "previous form: threshold 0.9 over near-random test vectors found "
        "0 organic pairs in all four driver rounds it ran, so the check "
        "could not fail).  Organic corpus pairs ride along unchanged; "
        "quality is driver-hashed via n2_embedding_near_dups_verdict.",
    oracle=None,
)
def n2_embedding_near_dups(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.agg(
        F.greatest(F.lit(10_000_000), F.max("vec_id") + 1).alias("_planted_base")
    )
    planted = (
        emb.orderBy("vec_id")
        .limit(8)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("vec_id") + F.col("_planted_base")).alias("vec_id"),
            "embedding",
        )
    )
    return sim.embedding_near_dup_pairs(
        emb.unionByName(planted), threshold=0.9, bits=6
    ).select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


@query(
    "n2_embedding_near_dups_verdict",
    group="N2",
    doc="Embedding near-dup quality as a hashable property verdict. The "
        "exact arm is a DELIBERATE all-pairs cosine pass — the ground-truth "
        "audit, run at oracle scale only (the production path is the LSH "
        "query it judges; same candidate/verify split as MinHash). Anchor = "
        "exact pair count at cos >= 0.3; booleans: every LSH-emitted pair "
        "is in the exact set (precision 1.0 by construction — the exact-"
        "cosine filter runs inside the LSH pipeline) and recall >= 0.1 "
        "(measured 0.14 at sf0.01: random-vector corpora have no tight "
        "clusters, the regime bucketing is built for; the planted-cluster "
        "unit test shows the high-recall regime).",
    oracle="""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings
        ), p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_sum(list_transform(range(1, len(a.ve) + 1),
                          i -> a.ve[i] * b.ve[i]))
                 / (sqrt(list_sum(list_transform(a.ve, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.ve, x -> x * x)))) AS cs
          FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
               TRUE AS precision_ok, TRUE AS recall_ok
        FROM p WHERE cs >= 0.3
    """,
)
def n2_embedding_near_dups_verdict(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vec_d = F.col("embedding").cast("array<double>")
    v = emb.select(F.col("vec_id").alias("id"), vec_d.alias("ve"))
    a = v.select(F.col("id").alias("id_a"), F.col("ve").alias("_va"))
    b = v.select(F.col("id").alias("id_b"), F.col("ve").alias("_vb"))
    # ground-truth audit: all-pairs exact cosine (quadratic ON PURPOSE,
    # oracle scale only — mirrors the oracle's own all-pairs arm)
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_cs", sim.cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cs") >= 0.3)
        .select("id_a", "id_b")
    )
    lsh = sim.embedding_near_dup_pairs(emb, threshold=0.3).select("id_a", "id_b")
    hit = lsh.join(exact, ["id_a", "id_b"], "left_semi")
    fp = lsh.join(exact, ["id_a", "id_b"], "left_anti")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .join(F.broadcast(hit.agg(F.count(F.lit(1)).alias("_n_hit"))))
        .join(F.broadcast(fp.agg(F.count(F.lit(1)).alias("_n_fp"))))
        .select(
            "n_exact_pairs",
            (F.col("_n_fp") == 0).alias("precision_ok"),
            (
                (F.col("n_exact_pairs") == 0)
                | (F.col("_n_hit") / F.col("n_exact_pairs") >= 0.1)
            ).alias("recall_ok"),
        )
    )


@query(
    "n2_semantic_dedup",
    group="N2",
    doc="SemDeDup semantic deduplication (arXiv:2303.09540): k-means "
        "clusters confine the quadratic step (N^2/k pairs), then every "
        "vector with a lower-id same-cell neighbor above cos 0.99 is "
        "dropped. Non-vacuous by planted structure: the 20 lowest-id "
        "vectors are duplicated under shifted ids — identical vectors "
        "land in the same cell whatever k-means converges to, so every "
        "planted copy MUST drop and (random 64-dim corpus, no natural "
        "0.99-pairs) every original survives. Anchor = corpus size + "
        "plants; booleans are robust to float-sum nondeterminism in the "
        "centroid averages because they never depend on borderline cell "
        "assignments.",
    oracle="""
        SELECT CAST(COUNT(*) + 20 AS BIGINT) AS n_input,
               TRUE AS planted_dropped,
               TRUE AS originals_kept
        FROM embeddings
    """,
)
def n2_semantic_dedup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    orig20 = emb.orderBy("vec_id").limit(20)
    copies = orig20.select(
        (F.col("vec_id") + F.lit(100_000)).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies)
    cents = sim.kmeans_fit(aug, k=8, max_iter=4)
    marked = sim.semantic_dedup(aug, cents, threshold=0.99)
    planted = marked.filter(F.col("vec_id") >= 100_000)
    originals = marked.join(
        F.broadcast(orig20.select("vec_id")), "vec_id", "left_semi"
    )
    kept_int = F.col("kept").cast("int")
    return (
        marked.agg(F.count(F.lit(1)).alias("n_input"))
        .join(
            F.broadcast(
                planted.agg(
                    F.sum(kept_int).alias("_n_planted_kept"),
                    F.count(F.lit(1)).alias("_n_planted"),
                )
            )
        )
        .join(F.broadcast(originals.agg(F.sum(kept_int).alias("_n_orig_kept"))))
        .select(
            "n_input",
            (
                (F.col("_n_planted_kept") == 0) & (F.col("_n_planted") == 20)
            ).alias("planted_dropped"),
            (F.col("_n_orig_kept") >= 18).alias("originals_kept"),
        )
    )


@query(
    "n4_trained_classifier",
    group="N4",
    doc="In-engine trained text classifier (fastText-shaped hashed "
        "bag-of-words logistic regression, functions/classifier.py): "
        "distributed full-batch GD over standardized features, driver "
        "state O(dim), 2 bounded shuffles per iteration. Target = a "
        "signal genuinely derivable from text (count('the') > "
        "count('a') — linearly separable in mean-pooled features, and "
        "SQL-mirrorable so the positive count anchors the oracle). "
        "Booleans: training reduced the loss and train accuracy >= 0.9 "
        "(measured 0.97; robust to float-sum nondeterminism in the "
        "gradient aggregations).",
    oracle=r"""
        WITH lab AS (
          SELECT CASE WHEN
            len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                t -> t = 'the'))
            > len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                t -> t = 'a'))
          THEN 1 ELSE 0 END AS y
          FROM documents
        )
        SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
               TRUE AS loss_decreased,
               TRUE AS train_acc_ok
        FROM lab
    """,
)
def n4_trained_classifier(spark, sf_dir):
    from hiero_spark.functions import classifier as clf

    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    y = (
        F.size(F.filter(toks, lambda x: x == "the"))
        > F.size(F.filter(toks, lambda x: x == "a"))
    ).cast("int")
    docs = docs.withColumn("_y", y)
    model = clf.train_text_classifier(
        docs, "text", "_y", "doc_id", dim=512, iters=8, lr=3.0
    )
    h = model["loss_history"]
    scored = clf.score_text(docs, "text", "doc_id", model)
    acc = (
        scored.join(docs.select("doc_id", "_y"), "doc_id")
        .agg(
            F.mean(
                ((F.col("score") >= 0.5).cast("int") == F.col("_y")).cast("double")
            ).alias("_acc")
        )
    )
    return (
        docs.agg(F.sum("_y").cast("long").alias("n_pos"))
        .join(F.broadcast(acc))
        .select(
            "n_pos",
            F.lit(bool(h[-1] < h[0])).alias("loss_decreased"),
            (F.col("_acc") >= 0.9).alias("train_acc_ok"),
        )
    )


# ---------------------------------------------------------------------------
# N3 — multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "n3_multimodal_bytes",
    group="N3",
    doc="Binary-column plumbing: payload byte length per media row (payloads "
        "derived from documents; decode stage stubbed, see functions/multimodal.py).",
    oracle="""
        SELECT doc_id AS media_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        FROM documents
    """,
)
def n3_multimodal_bytes(spark, sf_dir):
    from hiero_spark.functions.multimodal import synthetic_media

    media = synthetic_media(spark, t(spark, sf_dir, "documents"))
    return media.select(
        "media_id", F.octet_length("payload").cast("long").alias("n_bytes")
    )


@query(
    "n3_multimodal_features",
    group="N3",
    doc="mapInPandas feature extraction over binary payloads (stub decoder). "
        "The hashed columns (media_id, n_bytes) ARE SQL-reproducible — "
        "n_bytes is the payload length the Python UDF measured, so a hash "
        "match certifies the whole Arrow round-trip: Spark binary -> pandas "
        "batch -> UDF -> Arrow back. (The 8-dim digest features stay "
        "Python-only; their determinism is unit-tested.)",
    oracle="""
        SELECT doc_id AS media_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        FROM documents
    """,
)
def n3_multimodal_features(spark, sf_dir):
    from hiero_spark.functions.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, t(spark, sf_dir, "documents"))
    return extract_features(media).select("media_id", "n_bytes")


@query(
    "n3_spectral_features",
    group="N3",
    doc="Frequency-domain audio analysis, hash-verified PER ROW: clips are "
        "synthesized batch-side as PCM16 WAV sines at bin-aligned "
        "frequencies keyed on doc_id (k = 128 + (id % 8) * 64 at rate 8000, "
        "n_fft 2048), decoded by the vendored WAV reader and analyzed with "
        "numpy rFFT (functions/multimodal.py:spectral_features). The "
        "dominant bin and the 85%-energy rolloff of a pure tone are "
        "physics the oracle recomputes arithmetically — k * 125/32 Hz is "
        "an exact dyadic, so the float hash is exact, no tolerance. "
        "Flatness/centroid stay unit-tested (quantization harmonics make "
        "them near-but-not-exactly analytic).",
    oracle="""
        SELECT doc_id AS media_id,
               CAST(128 + (doc_id % 8) * 64 AS INT) AS dominant_bin,
               (128 + (doc_id % 8) * 64) * 8000.0 / 2048 AS dominant_hz,
               (128 + (doc_id % 8) * 64) * 8000.0 / 2048 AS rolloff_hz
        FROM documents WHERE doc_id < 64
    """,
)
def n3_spectral_features(spark, sf_dir):
    from hiero_spark.functions.multimodal import spectral_features, synthetic_tone_media

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    feats = spectral_features(synthetic_tone_media(docs))
    return feats.select("media_id", "dominant_bin", "dominant_hz", "rolloff_hz")


@query(
    "n3_scene_cuts",
    group="N3",
    doc="Shot-boundary detection over framepack videos, hash-verified PER "
        "TRANSITION ROW: videos are synthesized batch-side with one "
        "planted cut (dark luma-20 frames, then bright luma-220 from "
        "frame 2 + id % 5 of 8), every frame is decoded by the vendored "
        "BMP reader, and the detector flags |luma_i - luma_{i-1}| > 40 "
        "(functions/multimodal.py:detect_scene_cuts). Solid-color frames "
        "make mean luma exact integers, so the oracle reproduces the "
        "whole transition table — lumas, diffs, and the single cut — "
        "from doc_id arithmetic alone.",
    oracle="""
        WITH d AS (
          SELECT doc_id, 2 + doc_id % 5 AS cut_at
          FROM documents WHERE doc_id < 48
        )
        SELECT d.doc_id AS media_id,
               CAST(i AS INT) AS frame_idx,
               CAST(CASE WHEN i - 1 < cut_at THEN 20 ELSE 220 END AS INT) AS luma_prev,
               CAST(CASE WHEN i < cut_at THEN 20 ELSE 220 END AS INT) AS luma_curr,
               CAST(CASE WHEN i = cut_at THEN 200 ELSE 0 END AS INT) AS luma_diff,
               (i = cut_at) AS is_cut
        FROM d, UNNEST(range(1, 8)) AS t(i)
    """,
)
def n3_scene_cuts(spark, sf_dir):
    from hiero_spark.functions.multimodal import detect_scene_cuts, synthetic_cut_video

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 48)
    return detect_scene_cuts(synthetic_cut_video(docs))


# ---------------------------------------------------------------------------
# N4 — text analysis
# ---------------------------------------------------------------------------

@query(
    "n4_token_count",
    group="N4",
    doc="Whitespace token count per document.",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    """,
)
def n4_token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.token_count(F.col("text")).alias("n_tokens"))


@query(
    "n4_quality_score",
    group="N4",
    doc="Deterministic quality heuristic (length + word-shape terms).",
    oracle="""
        WITH m AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chr
          FROM documents
        )
        SELECT doc_id,
               LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.6 +
               (CASE WHEN n_chr / CAST(n_tok AS DOUBLE) >= 3.0
                      AND n_chr / CAST(n_tok AS DOUBLE) <= 10.0
                     THEN 1.0 ELSE 0.5 END) * 0.4 AS quality
        FROM m
    """,
)
def n4_quality_score(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


@query(
    "n4_lang_id",
    group="N4",
    doc="Marker-based language guess (deterministic CASE chain; accuracy vs "
        "the lang label asserted in unit tests).",
    oracle="""
        WITH probe AS (
          SELECT doc_id, ' ' || lower(text) || ' ' AS p,
                 length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))
                   AS n_cjk,
                 length(text) AS n_chr
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN n_cjk > 0 AND n_cjk * 10 >= n_chr * 3 THEN 'zh'
                    WHEN contains(p, ' the ') THEN 'en'
                    WHEN contains(p, ' le ') THEN 'fr'
                    WHEN contains(p, ' der ') THEN 'de'
                    WHEN contains(p, ' el ') THEN 'es'
                    ELSE 'und' END AS pred_lang
        FROM probe
    """,
)
def n4_lang_id(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return tx.with_language_id(docs, "text").select("doc_id", "pred_lang")


@query(
    "n4_lang_histogram",
    group="N4",
    doc="Language histogram (A4 categorical sketch on documents.lang).",
    oracle="SELECT lang, COUNT(*) AS bucket_count FROM documents GROUP BY lang",
)
def n4_lang_histogram(spark, sf_dir):
    from hiero_spark.operators.sketches import histogram_categorical

    return histogram_categorical(t(spark, sf_dir, "documents"), "lang")


@query(
    "n4_fingerprint",
    group="N4",
    doc="Document fingerprint: md5 content hash (RFC 1321 — identical hex in "
        "both engines).",
    oracle="SELECT doc_id, md5(text) AS fp FROM documents",
)
def n4_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


@query(
    "n4_punct_stats",
    group="N4",
    doc="Punctuation count + char stats per doc (quality-scoring inputs).",
    oracle="""
        SELECT doc_id,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(length(text) AS BIGINT) AS n_chars_actual
        FROM documents
    """,
)
def n4_punct_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.punct_count(F.col("text")).alias("n_punct"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@query(
    "n2_ann_batch",
    group="N2",
    doc="Batch ANN: exact cosine top-3 for each of 5 query vectors in one "
        "pass (broadcast query set, per-query window top-k).",
    oracle="""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 5
        ), scored AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cs
          FROM embeddings e, q
        ), ranked AS (
          SELECT query_id, neighbor_id, cs,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cs, 4) AS cos_sim, rank
        FROM ranked WHERE rank <= 3
    """,
)
def n2_ann_batch(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.batch_topk(emb, queries, k=3)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    )


@query(
    "n1_dedup_clusters",
    group="N1",
    doc="Near-dup clustering: connected components over exact-Jaccard pairs "
        "(graph.connected_components: hash-min label propagation with "
        "pointer jumping), canonical = min doc id per component "
        "— the keep-one-representative step of a dedup pipeline. Oracle "
        "recomputes components with a recursive CTE.",
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
        )
        SELECT doc, MIN(r) AS canonical FROM reach GROUP BY doc
    """,
)
def n1_dedup_clusters(spark, sf_dir):
    pairs = dd.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=3, threshold=0.4
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b", n_iter=20)
    return comp.select(
        F.col("node").alias("doc"), F.col("component").alias("canonical")
    )


@query(
    "n1_url_dedup",
    group="N1",
    doc="URL/domain canonicalization + dedup — the dedup axis web corpora "
        "lean on hardest. documents has no URL column, so both engines "
        "synthesize the same deterministic messy URLs (scheme/www case, "
        "trailing slash, utm_* params, fragments varying by doc_id) from "
        "(source, doc_id), then canonicalize (lowercase, strip fragment/"
        "utm/scheme/www/trailing-slash) and groupBy-min like exact_dedup: "
        "one shuffle of (canonical_url, id), bodies never move.",
    oracle=r"""
        WITH u AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
                 || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
                 || source || '.example.com/articles/'
                 || CAST(doc_id % 50 AS VARCHAR)
                 || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
                 || (CASE WHEN doc_id % 3 = 0
                          THEN '?utm_source=rss&utm_medium=feed' ELSE '' END)
                 || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)
                 AS url
          FROM documents
        ), c AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(lower(url),
                     '#.*$', ''),
                     'utm_[^&#]*&', '', 'g'),
                     '[?&]utm_[^&#]*$', ''),
                     '^(https?://)+', ''),
                     '^(www\.)+', ''),
                     '/+$', '') AS canon_url
          FROM u
        )
        SELECT canon_url,
               regexp_extract(canon_url, '^([^/?]*)', 1) AS domain,
               MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM c GROUP BY canon_url
    """,
)
def n1_url_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTP://")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".example.com/articles/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("?utm_source=rss&utm_medium=feed")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return dd.url_dedup(docs.withColumn("url", url), "url", "doc_id")


@query(
    "n5_curation_pipeline",
    group="N5",
    doc="The composed training-data curation pass: quality gate + language "
        "gate + Gopher repetition gates (dup-line fraction <= 0.30, top "
        "2-gram share <= 0.20, symbol-word ratio <= 0.10 — Rae et al. 2021 "
        "thresholds) + exact dedup in one plan. All gates are per-row "
        "expressions on the same scan; the only shuffle is the final dedup "
        "groupBy.",
    oracle=r"""
        WITH m AS (
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
        ), l AS (
          SELECT doc_id,
                 CASE WHEN length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) > 0
                       AND (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))) * 10
                           >= length(text) * 3 THEN 'zh'
                      WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 'en'
                      WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 'fr'
                      WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 'de'
                      WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 'es'
                      ELSE 'und' END AS pred_lang
          FROM documents
        ), t0 AS (
          SELECT doc_id,
                 regexp_split_to_array(text, '\n') AS lines,
                 regexp_split_to_array(trim(text), '\s+') AS toks,
                 length(regexp_replace(text, '[A-Za-z0-9\s.,;:!?()-]', '', 'g')) AS n_sym
          FROM documents
        ), b AS (
          SELECT doc_id, len(toks) AS n_tok,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM t0 WHERE len(toks) >= 2
        ), c AS (
          SELECT doc_id, n_tok, bigram, COUNT(*) AS cnt
          FROM b GROUP BY doc_id, n_tok, bigram
        ), tg AS (
          SELECT doc_id,
                 ROUND(LEAST(MAX(cnt) * 2.0, CAST(n_tok AS DOUBLE)) / n_tok,
                       6) AS top2gram_share
          FROM c GROUP BY doc_id, n_tok
        ), r AS (
          SELECT t0.doc_id AS doc_id,
                 ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                       / len(lines), 6) AS dup_line_frac,
                 COALESCE(tg.top2gram_share, 0.0) AS top2gram_share,
                 ROUND(CAST(n_sym AS DOUBLE) / len(toks), 6) AS symbol_word_ratio
          FROM t0 LEFT JOIN tg ON t0.doc_id = tg.doc_id
        ), kept AS (
          SELECT d.doc_id, md5(d.text) AS fp, q.quality
          FROM documents d
          JOIN q ON q.doc_id = d.doc_id
          JOIN l ON l.doc_id = d.doc_id
          JOIN r ON r.doc_id = d.doc_id
          WHERE q.quality >= 0.5 AND l.pred_lang = 'en'
            AND r.dup_line_frac <= 0.30 AND r.top2gram_share <= 0.20
            AND r.symbol_word_ratio <= 0.10
        )
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count,
               ROUND(MIN(quality), 6) AS quality
        FROM kept GROUP BY fp
    """,
)
def n5_curation_pipeline(spark, sf_dir):
    docs = tx.with_language_id(t(spark, sf_dir, "documents"), "text")
    kept = (
        docs.withColumn("quality", tx.quality_score(F.col("text")))
        .withColumn("dup_line_frac", tx.duplicate_line_fraction(F.col("text")))
        .withColumn("top2gram_share", tx.top_2gram_share(F.col("text")))
        .withColumn("symbol_word_ratio", tx.symbol_word_ratio(F.col("text")))
        .filter(
            (F.col("quality") >= 0.5)
            & (F.col("pred_lang") == "en")
            & (F.col("dup_line_frac") <= 0.30)
            & (F.col("top2gram_share") <= 0.20)
            & (F.col("symbol_word_ratio") <= 0.10)
        )
        .withColumn("fp", F.md5(F.col("text")))
    )
    return kept.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.round(F.min("quality"), 6).alias("quality"),
    ).drop("fp")


@query(
    "n4_bpe_token_count",
    group="N4",
    doc="BPE-ish pre-tokenizer count (word/digit/punct chunks — the regex "
        "family BPE tokenizers pre-split on; both engines run the same "
        "pattern, Java regex and RE2 agree on this subset).",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                    AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
)
def n4_bpe_token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens")
    )


@query(
    "n4_tfidf_keywords",
    group="N4",
    doc="Per-document top-3 keywords by TF-IDF. IDF is the smooth RATIO "
        "(N+1)/(df+1) rather than its ln(): +,*,/ are IEEE-defined and "
        "bit-identical across engines while ln() is not ulp-guaranteed, "
        "and the driver hash-compares doubles. Ties broken by token asc.",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents
        ), tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
        ), dfreq AS (
          SELECT tok, COUNT(*) AS df_docs FROM tf GROUP BY tok
        ), n AS (
          SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
          SELECT tf.doc_id, tf.tok,
                 ROUND(tf.tf * (n.n_docs + 1) / (dfreq.df_docs + 1), 6) AS score
          FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n
        ), ranked AS (
          SELECT doc_id, tok, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, tok ASC) AS rank
          FROM scored
        )
        SELECT doc_id, tok AS keyword, rank, score
        FROM ranked WHERE rank <= 3
    """,
)
def n4_tfidf_keywords(spark, sf_dir):
    return tx.tf_idf_keywords(t(spark, sf_dir, "documents"), "text", "doc_id", k=3)


@query(
    "n5_boilerplate_removal",
    group="N5",
    doc="Cross-document boilerplate line removal (CCNet-style): lines "
        "appearing in >= 3 distinct docs are dropped, docs reconstructed "
        "in original line order. The corpus has no newlines, so both "
        "engines plant identical boilerplate (per-source cookie header + "
        "global footer around each body); the op must strip exactly the "
        "planted lines — clean_text must equal the original body, making "
        "the oracle self-checking and non-vacuous.",
    oracle=r"""
        WITH planted AS (
          SELECT doc_id,
                 'COOKIE NOTICE ' || source || chr(10) || text ||
                 chr(10) || 'COPYRIGHT FOOTER' AS text
          FROM documents
        ), t0 AS (
          SELECT doc_id, regexp_split_to_array(text, chr(10)) AS ln FROM planted
        ), l AS (
          SELECT doc_id, i AS pos, ln[i] AS line
          FROM t0, UNNEST(range(1, len(ln) + 1)) AS u(i)
        ), hot AS (
          SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
        ), kept AS (
          SELECT doc_id, pos, line FROM l
          WHERE line NOT IN (SELECT line FROM hot)
        ), agg AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
          FROM kept GROUP BY doc_id
        )
        SELECT t0.doc_id AS doc_id, COALESCE(agg.clean_text, '') AS clean_text
        FROM t0 LEFT JOIN agg ON t0.doc_id = agg.doc_id
    """,
)
def n5_boilerplate_removal(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("COOKIE NOTICE "),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\nCOPYRIGHT FOOTER"),
        ).alias("text"),
    )
    return dd.remove_boilerplate_lines(planted, "text", "doc_id", min_docs=3)


@query(
    "n4_repetition_stats",
    group="N4",
    doc="Gopher-style repetition filters (Rae et al. 2021 §A1.1): "
        "duplicate-line fraction, top word-2-gram share, symbol-to-word "
        "ratio. Spark side is shuffle-free (sorted-array run-length for the "
        "2-gram, one F.aggregate pass); the oracle recomputes the 2-gram "
        "share the slow unnest+groupBy way — same numbers.",
    oracle=r"""
        WITH t0 AS (
          SELECT doc_id, text,
                 regexp_split_to_array(text, '\n') AS lines,
                 regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        ), b AS (
          SELECT doc_id, len(toks) AS n_tok,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM t0 WHERE len(toks) >= 2
        ), c AS (
          SELECT doc_id, n_tok, bigram, COUNT(*) AS cnt
          FROM b GROUP BY doc_id, n_tok, bigram
        ), m AS (
          SELECT doc_id,
                 ROUND(LEAST(MAX(cnt) * 2.0, CAST(n_tok AS DOUBLE)) / n_tok,
                       6) AS top2gram_share
          FROM c GROUP BY doc_id, n_tok
        )
        SELECT t0.doc_id AS doc_id,
               ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                     / len(lines), 6) AS dup_line_frac,
               COALESCE(m.top2gram_share, 0.0) AS top2gram_share,
               ROUND(CAST(length(regexp_replace(text, '[A-Za-z0-9\s.,;:!?()-]', '', 'g')) AS DOUBLE)
                     / len(toks), 6) AS symbol_word_ratio
        FROM t0 LEFT JOIN m ON t0.doc_id = m.doc_id
    """,
)
def n4_repetition_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.duplicate_line_fraction(F.col("text")).alias("dup_line_frac"),
        tx.top_2gram_share(F.col("text")).alias("top2gram_share"),
        tx.symbol_word_ratio(F.col("text")).alias("symbol_word_ratio"),
    )


@query(
    "n2_ivf_kmeans",
    group="N2",
    doc="In-engine IVF index training as a hashable property verdict: "
        "distributed Lloyd's k-means (k=8, per-dimension partial+final "
        "sums, deterministic lowest-id init) trains the coarse quantizer. "
        "Anchor = corpus size; booleans assert training reduced (or held) "
        "the within-cluster SSE vs the init centroids — Lloyd's is "
        "monotone, so anything else is a bug — and that probing the "
        "trained index finds the query vector itself.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               TRUE AS sse_improved, TRUE AS self_found
        FROM embeddings
    """,
)
def n2_ivf_kmeans(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vec_d = F.col("embedding").cast("array<double>")
    init_rows = (
        emb.orderBy(F.col("vec_id").asc()).limit(8)
        .select(vec_d.alias("v")).collect()
    )
    init = [[float(x) for x in r["v"]] for r in init_rows]
    trained = sim.kmeans_fit(emb, k=8, max_iter=10)
    sse = emb.agg(
        F.sum(sim.min_dist2(vec_d, init)).alias("_sse_init"),
        F.sum(sim.min_dist2(vec_d, trained)).alias("_sse_trained"),
    )
    qv = _query_vec(spark, sf_dir)
    probe = sim.ivf_topk(emb, qv, trained, k=1, n_probe=1).filter(
        F.col("neighbor_id") == 0
    )
    return (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(F.broadcast(sse))
        .join(F.broadcast(probe.agg(F.count(F.lit(1)).alias("_n_self"))))
        .select(
            "n_vectors",
            (F.col("_sse_trained") <= F.col("_sse_init") * 1.0000001).alias(
                "sse_improved"
            ),
            (F.col("_n_self") == 1).alias("self_found"),
        )
    )


@query(
    "n2_hard_negatives",
    group="N2",
    doc="Hard-negative mining for contrastive training "
        "(functions/similarity.py:hard_negatives): per anchor (every "
        "50th vector), the 5 most similar corpus vectors inside the "
        "0.10 <= cos < 0.90 band — informative negatives below the "
        "near-duplicate threshold. Batch-ANN scale shape: anchors "
        "broadcast, band filter prunes BEFORE the only shuffle (the "
        "per-anchor top-k window over scalar tuples); self-pairs "
        "excluded by id. Both engines rank the same doubles "
        "(n2_ann_batch contract), ROUND display-only.",
    oracle="""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id % 50 = 0
        ), scored AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cs
          FROM embeddings e, q
        ), band AS (
          SELECT query_id, neighbor_id, cs FROM scored
          WHERE neighbor_id <> query_id AND cs >= 0.10 AND cs < 0.90
        ), ranked AS (
          SELECT query_id, neighbor_id, cs,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cs DESC, neighbor_id ASC) AS INT) AS rank
          FROM band
        )
        SELECT query_id, neighbor_id, ROUND(cs, 4) AS cos_sim, rank
        FROM ranked WHERE rank <= 5
    """,
)
def n2_hard_negatives(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.hard_negatives(emb, anchors, k=5, lo=0.10, hi=0.90)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    )


@query(
    "n6_triplets",
    group="N6",
    doc="Contrastive-training triplet assembly "
        "(functions/similarity.py:mine_triplets): per anchor (every "
        "100th vector), positive = nearest neighbor, negative = the "
        "most similar neighbor at least 0.05 below the positive — the "
        "distance-weighted semi-hard mining rule (random negatives are "
        "trivially satisfied and teach nothing). One broadcast scoring "
        "scan feeds both rank-1 windows; scalars shuffle, vectors "
        "never. Deterministic by the n2 ranking contract.",
    oracle="""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id % 100 = 0
        ), scored AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cs
          FROM embeddings e, q
          WHERE e.vec_id <> query_id
        ), pos AS (
          SELECT query_id AS anchor, neighbor_id AS positive_id, cs AS pos_sim
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cs DESC, neighbor_id ASC) AS rn FROM scored)
          WHERE rn = 1
        ), neg AS (
          SELECT anchor, neighbor_id AS negative_id, cs AS neg_sim
          FROM (
            SELECT p.anchor, s.neighbor_id, s.cs,
                   row_number() OVER (PARTITION BY p.anchor
                     ORDER BY s.cs DESC, s.neighbor_id ASC) AS rn
            FROM scored s JOIN pos p ON s.query_id = p.anchor
            WHERE s.cs <= p.pos_sim - 0.05
          ) WHERE rn = 1
        )
        SELECT pos.anchor, positive_id, ROUND(pos_sim, 4) AS pos_sim,
               negative_id, ROUND(neg_sim, 4) AS neg_sim
        FROM pos JOIN neg ON neg.anchor = pos.anchor
    """,
)
def n6_triplets(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.mine_triplets(emb, anchors, margin=0.05)


@query(
    "n1_cluster_sizes",
    group="N1",
    doc="Near-dup cluster-size distribution — the dedup dashboard number "
        "(how much boilerplate, how big the worst clusters, how many "
        "docs dedup removes): per component size, cluster count, docs "
        "covered, and removable docs (size-1 each); unclustered docs "
        "report as the size-1 row with zero removable. Same component "
        "derivation as n1_dedup_clusters (graph.connected_components / "
        "recursive-CTE oracle); the distribution is two bounded "
        "aggregates on top.",
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
        ), csz AS (
          SELECT canonical, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY 1
        ), clustered AS (
          SELECT sz AS cluster_size,
                 CAST(COUNT(*) AS BIGINT) AS n_clusters,
                 CAST(SUM(sz) AS BIGINT) AS n_docs,
                 CAST(SUM(sz - 1) AS BIGINT) AS n_removable
          FROM csz GROUP BY sz
        ), singles AS (
          SELECT CAST(1 AS BIGINT) AS cluster_size,
                 CAST(COUNT(*) AS BIGINT) AS n_clusters,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(0 AS BIGINT) AS n_removable
          FROM documents WHERE doc_id NOT IN (SELECT doc FROM comp)
        )
        SELECT * FROM clustered UNION ALL SELECT * FROM singles
    """,
)
def n1_cluster_sizes(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b", n_iter=20)
    csz = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    clustered = csz.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_removable"),
    )
    singles = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            "n_clusters",
            F.col("n_clusters").alias("n_docs"),
            F.lit(0).cast("long").alias("n_removable"),
        )
    )
    return clustered.unionByName(singles)


@query(
    "n3_image_near_dups",
    group="N3",
    doc="Image near-duplicate detection by perceptual average-hash "
        "(functions/multimodal.py:average_hash/image_near_dups) — the "
        "pHash dedup an image-corpus pipeline runs before training. "
        "Test cards are synthesized grayscale BMPs whose pixels are "
        "doc_id arithmetic (groups of 10 share a base pattern with "
        "per-doc perturbations), decoded by the VENDORED codec ladder "
        "and hashed in pure integer arithmetic (block sums, "
        "cross-multiplied mean threshold, two 32-bit halves — no "
        "division, no sign games), so the oracle recomputes every hash "
        "and every Hamming pair from the same arithmetic: the whole "
        "decode→hash→band→verify pipeline is hash-checked, no "
        "tolerance. Candidates: 8-band blocking with the pigeonhole "
        "recall GUARANTEE (Hamming<=6 differs in <=6 of 8 bands).",
    oracle="""
        WITH px AS (
          SELECT doc_id, i, j,
                 CASE WHEN i = 0 AND j < doc_id % 10
                      THEN ((37 * (doc_id // 10) + 11 * i + 5 * j) % 256
                            + 64) % 256
                      ELSE (37 * (doc_id // 10) + 11 * i + 5 * j) % 256
                 END AS g
          FROM documents,
               UNNEST(range(16)) AS u(i), UNNEST(range(16)) AS v(j)
          WHERE doc_id < 200
        ), blk AS (
          SELECT doc_id, (i // 2) * 8 + (j // 2) AS k, SUM(g) AS bs
          FROM px GROUP BY 1, 2
        ), tot AS (
          SELECT doc_id, SUM(bs) AS ts FROM blk GROUP BY 1
        ), ph AS (
          SELECT blk.doc_id,
                 CAST(SUM(CASE WHEN bs * 64 > ts AND k >= 32
                               THEN (CAST(1 AS BIGINT) << (k - 32))
                               ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(CASE WHEN bs * 64 > ts AND k < 32
                               THEN (CAST(1 AS BIGINT) << k)
                               ELSE 0 END) AS BIGINT) AS lo
          FROM blk JOIN tot ON tot.doc_id = blk.doc_id
          GROUP BY 1
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                    AS BIGINT) AS hamming
        FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
    """,
)
def n3_image_near_dups(spark, sf_dir):
    from hiero_spark.functions.multimodal import (
        average_hash, image_near_dups, synthetic_pattern_images,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = image_near_dups(
        average_hash(synthetic_pattern_images(docs)), max_hamming=6
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "n3_video_near_dups",
    group="N3",
    doc="Video near-duplicate detection by shared frame hashes "
        "(functions/multimodal.py:frame_hashes/video_near_dups): "
        "framepack videos decode per frame through the vendored codec "
        "ladder into the SAME average-hash core as image dedup, and "
        "videos sharing >= 3 distinct 64-bit frame hashes pair — frame "
        "order ignored, so re-cut copies match (the shingle trick "
        "lifted to frames). Test videos are doc_id arithmetic (groups "
        "of 5 share frames 1..5; frame 0 drifts per video), so the "
        "oracle recomputes every frame hash and every shared-count "
        "from the same arithmetic — decode→hash→join hash-checked, no "
        "tolerance. Completes the dedup family: text, image, video.",
    oracle="""
        WITH px AS (
          SELECT doc_id, f, i, j,
                 CASE WHEN f = 0 AND i = 0 AND j < doc_id % 5
                      THEN ((37 * (doc_id // 5) + 23 * f + 11 * i + 5 * j)
                            % 256 + 64) % 256
                      ELSE (37 * (doc_id // 5) + 23 * f + 11 * i + 5 * j) % 256
                 END AS g
          FROM documents,
               UNNEST(range(6)) AS w(f),
               UNNEST(range(16)) AS u(i), UNNEST(range(16)) AS v(j)
          WHERE doc_id < 100
        ), blk AS (
          SELECT doc_id, f, (i // 2) * 8 + (j // 2) AS k, SUM(g) AS bs
          FROM px GROUP BY 1, 2, 3
        ), tot AS (
          SELECT doc_id, f, SUM(bs) AS ts FROM blk GROUP BY 1, 2
        ), ph AS (
          SELECT blk.doc_id, blk.f,
                 CAST(SUM(CASE WHEN bs * 64 > ts AND k >= 32
                               THEN (CAST(1 AS BIGINT) << (k - 32))
                               ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(CASE WHEN bs * 64 > ts AND k < 32
                               THEN (CAST(1 AS BIGINT) << k)
                               ELSE 0 END) AS BIGINT) AS lo
          FROM blk JOIN tot ON tot.doc_id = blk.doc_id AND tot.f = blk.f
          GROUP BY 1, 2
        ), hs AS (
          SELECT DISTINCT doc_id, hi, lo FROM ph
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM hs a JOIN hs b
          ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def n3_video_near_dups(spark, sf_dir):
    from hiero_spark.functions.multimodal import (
        synthetic_pattern_video, video_near_dups,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return video_near_dups(synthetic_pattern_video(docs), min_shared=3)


@query(
    "n3_audio_near_dups",
    group="N3",
    doc="Audio near-duplicate detection by shared window signatures "
        "(functions/multimodal.py:audio_window_signatures/"
        "audio_near_dups): clips decode through the vendored PCM16/"
        "ADPCM ladder, every 256-sample window's exact mean |amplitude| "
        "is its signature, and clips sharing >= 3 distinct signatures "
        "pair (position ignored — re-cut copies match; the video "
        "shared-hash contract on the audio axis). Test clips are "
        "constant-amplitude segments of doc_id arithmetic (groups of 5 "
        "share segments 1..7, segment 0 drifts), int16 round-trips the "
        "dyadic normalization losslessly, so the oracle recomputes "
        "every signature and shared count exactly — decode→fingerprint"
        "→join hash-checked. Dedup now spans all four modalities.",
    oracle="""
        WITH seg AS (
          SELECT doc_id, s,
                 1000 + 997 * ((37 * (doc_id // 5) + 23 * s) % 29)
                 + CASE WHEN s = 0 THEN (doc_id % 5) * 13 ELSE 0 END AS sig
          FROM documents, UNNEST(range(8)) AS u(s)
          WHERE doc_id < 100
        ), hs AS (
          SELECT DISTINCT doc_id, sig FROM seg
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM hs a JOIN hs b ON a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def n3_audio_near_dups(spark, sf_dir):
    from hiero_spark.functions.multimodal import (
        audio_near_dups, synthetic_segment_audio,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return audio_near_dups(synthetic_segment_audio(docs), min_shared=3)
