"""Retrieval, graph and sampling queries: BM25 full-text ranking,
triangle counting, and deterministic weighted (PPS) sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hiero_spark.functions import text as tx
from hiero_spark.queries._util import _sf_export_dir, t
from hiero_spark.registry import query

_BM25_TERMS = ("spark", "join", "window", "stream")

# Bump when save_text_index changes its layout/schema: the _SUCCESS gate
# reuses a persisted index, and a layout change with an unversioned path
# would silently probe stale bytes (bitten in round 7 when postings
# gained the positions column).
_TEXT_INDEX_VERSION = 2

# Shared BM25 oracle: the indexed probe is a LAYOUT change (partition-
# pruned posting lists), never a math change, so both registry entries
# hash-check against the identical SQL.
_BM25_ORACLE = r"""
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
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                 list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY tok)),
                   (a, x) -> a + x) AS s
          FROM contrib GROUP BY doc_id
        )
        SELECT doc_id, n_terms, ROUND(s, 6) AS bm25
        FROM agg ORDER BY s DESC, doc_id ASC LIMIT 10
"""


@query(
    "n4_bm25_topk",
    group="N4",
    doc="Okapi BM25 top-10 against a 4-term query (functions/bm25.py): "
        "token explode filtered to query terms BEFORE any shuffle, "
        "per-term df broadcast back, corpus stats are two scalars, "
        "top-k is TakeOrdered. Ratio idf (no ln — not ulp-guaranteed) "
        "and a sorted-term aggregate() fold make the double scores "
        "bit-identical across engines, so the RANKING is hash-checked.",
    oracle=_BM25_ORACLE,
)
def n4_bm25_topk(spark, sf_dir):
    from hiero_spark.functions.bm25 import bm25_topk

    return bm25_topk(t(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10)


@query(
    "n4_bm25_indexed",
    group="N4",
    doc="BM25 probe of a PERSISTED inverted index "
        "(functions/bm25.py:save_text_index): postings partitioned by "
        "term-hash bucket, so the probe reads only the |q| buckets the "
        "query hashes to (directory-level partition pruning, pinned in "
        "tests) plus a 1-row stats table — the Lucene build/probe split "
        "as parquet layout. Index built once per scale factor "
        "(_SUCCESS-gated, the save_ivf/_pca_model contract); ranking is "
        "bit-identical to the full-scan path and shares its oracle.",
    oracle=_BM25_ORACLE,
)
def n4_bm25_indexed(spark, sf_dir):
    import os

    from hiero_spark.functions.bm25 import bm25_topk_indexed, save_text_index

    path = _sf_export_dir(sf_dir, f"text_index_v{_TEXT_INDEX_VERSION}")
    if not os.path.exists(os.path.join(path, "stats", "_SUCCESS")):
        save_text_index(t(spark, sf_dir, "documents"), path)
    return bm25_topk_indexed(spark, path, list(_BM25_TERMS), k=10)


@query(
    "n7_triangle_count",
    group="N7",
    doc="Triangle count over the synthetic doc link graph (same "
        "3-out-links-per-doc derivation as n7_pagerank): canonical a<b "
        "orientation, two equi-joins count each triangle once from its "
        "smallest vertex (compact-forward wedge bound, "
        "functions/graph.py:triangle_count). Pure integer counts — "
        "exact oracle, no tolerance.",
    oracle="""
        WITH nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        e0 AS (
          SELECT doc_id AS src, (doc_id * 7 + j * 13) % n AS dst
          FROM documents CROSS JOIN nn, UNNEST([1, 2, 3]) AS u(j)
          WHERE (doc_id * 7 + j * 13) % n <> doc_id
        ), und AS (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM e0
        ), tri AS (
          SELECT COUNT(*) AS n_tri
          FROM und e1
          JOIN und e2 ON e2.a = e1.b
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ), nodes AS (
          SELECT COUNT(DISTINCT v) AS n_nodes
          FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
        )
        SELECT CAST(nodes.n_nodes AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
               CAST(tri.n_tri AS BIGINT) AS n_triangles
        FROM tri CROSS JOIN nodes
    """,
)
def n7_triangle_count(spark, sf_dir):
    from hiero_spark.functions.graph import triangle_count

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
    return triangle_count(edges)


@query(
    "n7_clustering_coefficient",
    group="N7",
    doc="Per-node local clustering coefficient over the synthetic doc "
        "link graph (functions/graph.py:local_clustering_coefficient): "
        "2*tri(v) / (deg(v)*(deg(v)-1)) from the compact-forward wedge "
        "chain — exact integer counts plus one double expression, so "
        "unlike the iterative graph ops this statistic earns a FULL "
        "hash-checked SQL oracle.",
    oracle="""
        WITH nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        e0 AS (
          SELECT doc_id AS src, (doc_id * 7 + j * 13) % n AS dst
          FROM documents CROSS JOIN nn, UNNEST([1, 2, 3]) AS u(j)
          WHERE (doc_id * 7 + j * 13) % n <> doc_id
        ), und AS (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM e0
        ), tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1
          JOIN und e2 ON e2.a = e1.b
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ), tnode AS (
          SELECT v, COUNT(*) AS t FROM (
            SELECT x AS v FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
          ) GROUP BY 1
        ), deg AS (
          SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
          ) GROUP BY 1
        )
        SELECT deg.v AS node,
               CAST(d AS BIGINT) AS degree,
               CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
               ROUND(CASE WHEN d >= 2
                          THEN 2.0 * COALESCE(t, 0) / (d * (d - 1))
                          ELSE 0.0 END, 6) AS local_cc
        FROM deg LEFT JOIN tnode ON tnode.v = deg.v
    """,
)
def n7_clustering_coefficient(spark, sf_dir):
    from hiero_spark.functions.graph import local_clustering_coefficient

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
    return local_clustering_coefficient(edges)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled bounded-round peel (see functions/graph.py:k_core — the
    fixed point is non-monotone, so the oracle unrolls exactly the same
    R rounds the Spark arm runs; generated next to the query so the
    round budgets cannot drift apart).  MATERIALIZED CTEs: DuckDB
    otherwise inlines each CTE per reference and the 6-round chain
    (4+ references per round) expands exponentially — measured as an
    fd exhaustion opening documents.parquet thousands of times."""
    ctes = [
        "nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents)",
        """e0 AS MATERIALIZED (
          SELECT doc_id AS src, (doc_id * 7 + j * 13) % n AS dst
          FROM documents CROSS JOIN nn, UNNEST([1, 2, 3]) AS u(j)
          WHERE (doc_id * 7 + j * 13) % n <> doc_id
        )""",
        """und0 AS MATERIALIZED (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM e0
        )""",
    ]
    prev = "und0"
    for i in range(1, rounds + 1):
        ctes.append(f"""deg{i} AS MATERIALIZED (
          SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev}
          ) GROUP BY 1
        )""")
        ctes.append(f"bad{i} AS MATERIALIZED (SELECT v FROM deg{i} WHERE d < {k})")
        ctes.append(f"""und{i} AS MATERIALIZED (
          SELECT a, b FROM {prev}
          WHERE a NOT IN (SELECT v FROM bad{i})
            AND b NOT IN (SELECT v FROM bad{i})
        )""")
        prev = f"und{i}"
    return f"""
        WITH {", ".join(ctes)}
        SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM (SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev})
        GROUP BY 1
    """


@query(
    "n7_kcore",
    group="N7",
    doc="Bounded-round 3-core peeling over the synthetic doc link graph "
        "(functions/graph.py:k_core): drop degree<3 nodes, 6 rounds — "
        "peeling is non-monotone so no recursive-CTE fixed point exists, "
        "but the EXACT same 6 unrolled rounds run verbatim on DuckDB, so "
        "the statistic is hash-checked end to end; a test asserts the "
        "corpus converges within the budget, making the 6-round result "
        "the true 3-core.",
    oracle=_kcore_oracle_sql(k=3, rounds=6),
)
def n7_kcore(spark, sf_dir):
    from hiero_spark.functions.graph import k_core

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
    return k_core(edges, k=3, n_rounds=6)


@query(
    "n6_weighted_sample",
    group="N6",
    doc="Deterministic PPS sample: 50 draws proportional to n_chars via "
        "systematic thresholds over the cumulative-weight line "
        "(functions/sampling.py) — distributed two-phase prefix sum, "
        "all-integer selection arithmetic (no pow/ln, no binomial "
        "wobble), heavy rows carry explicit multiplicity; sum(n_sel) "
        "is exactly 50 by construction and the sample is hash-stable.",
    oracle="""
        WITH w AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents
        ), tot AS (SELECT SUM(wt) AS tw FROM w),
        c AS (
          SELECT doc_id, wt,
                 SUM(wt) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
          FROM w
        ), s AS (
          SELECT doc_id, wt,
                 LEAST(CAST(50 AS BIGINT), (100 * cum + tw) // (2 * tw))
                 - LEAST(CAST(50 AS BIGINT),
                         (100 * (cum - wt) + tw) // (2 * tw)) AS n_sel
          FROM c CROSS JOIN tot
        )
        SELECT doc_id, wt AS n_chars, CAST(n_sel AS BIGINT) AS n_sel
        FROM s WHERE n_sel >= 1
    """,
)
def n6_weighted_sample(spark, sf_dir):
    from hiero_spark.functions.sampling import systematic_pps_sample

    return systematic_pps_sample(
        t(spark, sf_dir, "documents"), k=50, weight_col="n_chars",
        order_col="doc_id",
    )


@query(
    "n1_jaccard_join",
    group="N1",
    doc="EXACT set-similarity self-join, Jaccard >= 0.8 over word "
        "3-gram shingle sets (functions/setsim.py): prefix filtering "
        "(PPJoin) generates candidates only from each doc's rarest "
        "|d|-ceil(0.8|d|)+1 shingles — 25 candidates at sf0.01 vs 12.5M "
        "all-pairs, and all 25 verify (the prefix is exact, not "
        "probabilistic, unlike MinHash). The verification-grade "
        "companion to the LSH path; a unit test pins prefix-join == "
        "brute force on a planted corpus.",
    oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sl
          FROM w WHERE len(ws) >= 3
        ), toks AS (SELECT doc_id, unnest(sl) AS tok FROM sh),
        ordered AS (
          SELECT t.doc_id, list(t.tok ORDER BY d.df, t.tok) AS s
          FROM toks t
          JOIN (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok) d
            USING (tok)
          GROUP BY t.doc_id
        ), sized AS (
          SELECT doc_id, s,
                 s[1:GREATEST(1, len(s)
                   - CAST(CEIL(len(s) * 0.8) AS BIGINT) + 1)] AS prefix
          FROM ordered
        ), pre AS (SELECT doc_id, s, unnest(prefix) AS tok FROM sized),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.s AS s_a, b.s AS s_b
          FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
        ), scored AS (
          SELECT id_a, id_b,
                 len(list_intersect(s_a, s_b)) AS n_common,
                 len(s_a) + len(s_b) - len(list_intersect(s_a, s_b)) AS n_union
          FROM cand
        )
        SELECT id_a, id_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_union AS BIGINT) AS n_union,
               ROUND(CAST(n_common AS DOUBLE) / n_union, 6) AS jaccard
        FROM scored
        WHERE CAST(n_common AS DOUBLE) / n_union >= 0.8
    """,
)
def n1_jaccard_join(spark, sf_dir):
    from hiero_spark.functions.setsim import jaccard_join

    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    )
    return jaccard_join(docs, threshold=0.8, k=3)


@query(
    "n1_jaccard_groups",
    group="N1",
    doc="Group arm of the exact Jaccard join (round-10: the "
        "identical-set collapse, functions/setsim.py): identical "
        "shingle sets collapse to one representative BEFORE candidate "
        "generation, so g verbatim copies contribute one distinct set "
        "instead of g^2/2 candidate+verify pairs (measured: 0 vs "
        "12.5M at 1M docs / 5k copies).  expand_identical=False returns "
        "GROUP rows — representative ids with count multiplicities, "
        "plus one self-row per duplicate group standing for its "
        "intra-group clique — the shape a 100 TB dedup keeps when "
        "materializing member-level pairs is itself the quadratic step. "
        "The oracle collapses by the sorted distinct-shingle list and "
        "scores all distinct-set pairs (exact at oracle scale); a unit "
        "test pins group-arm == expanded member-level arm.",
    oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_sort(list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sl
          FROM w WHERE len(ws) >= 3
        ), gs AS (
          SELECT sl, MIN(doc_id) AS id, COUNT(*) AS n_ids
          FROM sh GROUP BY sl
        ), cross_rows AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 len(list_intersect(a.sl, b.sl)) AS n_common,
                 len(a.sl) + len(b.sl)
                   - len(list_intersect(a.sl, b.sl)) AS n_union,
                 a.n_ids AS count_a, b.n_ids AS count_b
          FROM gs a JOIN gs b ON a.id < b.id
        ), self_rows AS (
          SELECT id AS id_a, id AS id_b,
                 len(sl) AS n_common, len(sl) AS n_union,
                 n_ids AS count_a, n_ids AS count_b
          FROM gs WHERE n_ids > 1
        )
        SELECT id_a, id_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_union AS BIGINT) AS n_union,
               ROUND(CAST(n_common AS DOUBLE) / n_union, 6) AS jaccard,
               CAST(count_a AS BIGINT) AS count_a,
               CAST(count_b AS BIGINT) AS count_b
        FROM cross_rows
        WHERE CAST(n_common AS DOUBLE) / n_union >= 0.8
        UNION ALL
        SELECT id_a, id_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_union AS BIGINT) AS n_union,
               1.0 AS jaccard,
               CAST(count_a AS BIGINT) AS count_a,
               CAST(count_b AS BIGINT) AS count_b
        FROM self_rows
    """,
)
def n1_jaccard_groups(spark, sf_dir):
    from hiero_spark.functions.setsim import jaccard_join

    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    )
    return jaccard_join(docs, threshold=0.8, k=3, expand_identical=False)


@query(
    "n1_containment_join",
    group="N1",
    doc="Directional set-CONTAINMENT join, |A n B|/|A| >= 0.8 over word "
        "3-gram shingles (functions/setsim.py:containment_join) — the "
        "quote/excerpt detector Jaccard structurally misses (a snippet "
        "verbatim inside a long page has containment 1.0, Jaccard ~0). "
        "Prefix filtering is asymmetric: only A-side rarest-token "
        "prefixes generate candidates (no sound B-side bound exists), "
        "so join keys are exclusively rare tokens and the output is "
        "bounded by the prefix posting lists; the |B| >= 0.8|A| length "
        "filter prunes before pair dedup.",
    oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sl
          FROM w WHERE len(ws) >= 3
        ), toks AS (SELECT doc_id, unnest(sl) AS tok FROM sh),
        ordered AS (
          SELECT t.doc_id, list(t.tok ORDER BY d.df, t.tok) AS s
          FROM toks t
          JOIN (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok) d
            USING (tok)
          GROUP BY t.doc_id
        ), sized AS (
          SELECT doc_id, s,
                 s[1:GREATEST(1, len(s)
                   - CAST(CEIL(len(s) * 0.8) AS BIGINT) + 1)] AS prefix
          FROM ordered
        ), pre AS (SELECT doc_id, s, unnest(prefix) AS tok FROM sized),
        post AS (SELECT doc_id, s, unnest(s) AS tok FROM sized),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.s AS s_a, b.s AS s_b
          FROM pre a JOIN post b
            ON a.tok = b.tok AND a.doc_id <> b.doc_id
          WHERE len(b.s) >= CEIL(len(a.s) * 0.8)
        ), scored AS (
          SELECT id_a, id_b,
                 len(list_intersect(s_a, s_b)) AS n_common,
                 len(s_a) AS n_a
          FROM cand
        )
        SELECT id_a, id_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_a AS BIGINT) AS n_a,
               ROUND(CAST(n_common AS DOUBLE) / n_a, 6) AS containment
        FROM scored
        WHERE CAST(n_common AS DOUBLE) / n_a >= 0.8
    """,
)
def n1_containment_join(spark, sf_dir):
    from hiero_spark.functions.setsim import containment_join

    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    )
    return containment_join(docs, threshold=0.8, k=3)


@query(
    "ext_interval_concurrency",
    group="ext-window",
    doc="Peak concurrency per event type over half-open 30-minute "
        "sessions [ts, ts+30m) — sweep-line counting "
        "(operators/temporal.py:interval_concurrency): 2 (t, ±1) events "
        "per interval, per-KEY running sum over the total order "
        "(t, delta, event_id) so boundary-touching intervals never "
        "double-count and the prefix sums are engine-deterministic.",
    oracle="""
        WITH iv AS (
          SELECT event_type, event_id,
                 epoch_us(ts) AS s,
                 epoch_us(ts + INTERVAL 30 MINUTE) AS e
          FROM events
        ), ev AS (
          SELECT event_type, event_id, s AS t, 1 AS delta FROM iv
          UNION ALL
          SELECT event_type, event_id, e AS t, -1 AS delta FROM iv
        ), run AS (
          SELECT event_type,
                 SUM(delta) OVER (PARTITION BY event_type
                                  ORDER BY t, delta, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS c
          FROM ev
        )
        SELECT event_type,
               CAST(MAX(c) AS BIGINT) AS max_concurrent,
               CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
        FROM run GROUP BY event_type
    """,
)
def ext_interval_concurrency(spark, sf_dir):
    from hiero_spark.operators.temporal import interval_concurrency

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("s"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    return interval_concurrency(ev, "event_type", "s", "e", "event_id")


@query(
    "n4_phrase_search",
    group="N4",
    doc="Exact phrase search ('data data') from the POSITIONAL inverted "
        "index (functions/bm25.py:phrase_count_indexed): partition-"
        "pruned read of the phrase words' buckets, per-doc position-"
        "list intersection (word j at p+j) — document text is never "
        "scanned at query time. The repeated-word phrase is the "
        "adversarial case: both slots probe the SAME posting list at "
        "adjacent offsets. Oracle recomputes from raw text, so index "
        "build + probe are verified against the direct definition.",
    oracle=r"""
        WITH w AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          FROM documents
        ), m AS (
          SELECT doc_id,
                 len(list_filter(range(1, len(ws)),
                     i -> ws[i] = 'data' AND ws[i+1] = 'data')) AS n
          FROM w
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
        FROM m WHERE n >= 1
    """,
)
def n4_phrase_search(spark, sf_dir):
    import os

    from hiero_spark.functions.bm25 import phrase_count_indexed, save_text_index

    path = _sf_export_dir(sf_dir, f"text_index_v{_TEXT_INDEX_VERSION}")
    if not os.path.exists(os.path.join(path, "stats", "_SUCCESS")):
        save_text_index(t(spark, sf_dir, "documents"), path)
    return phrase_count_indexed(spark, path, ["data", "data"])


@query(
    "ext_rolling_distinct",
    group="ext-window",
    doc="Rolling distinct users per event type over a trailing 24h "
        "window ending at each hour — the sliding-window-DAU shape. "
        "Distinct counts don't merge across window positions (union != "
        "sum), so no frame over hourly aggregates computes this; the "
        "operator (operators/temporal.py:rolling_distinct) collapses to "
        "DISTINCT (key,hour,user) triples first, then a bounded x24 "
        "fan-out + distinct-count — shuffle bounded by triples x 24, "
        "independent of raw event volume. Oracle is the independent "
        "direct definition (range join hour BETWEEN bucket-23h AND "
        "bucket), not a mirror of the fan-out.",
    oracle="""
        WITH tr AS (
          SELECT DISTINCT event_type AS k,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                 user_id AS e
          FROM events
        ), buckets AS (
          SELECT DISTINCT k, h + 3600 * i AS bucket_ts
          FROM tr, UNNEST(range(0, 24)) AS u(i)
        )
        SELECT b.k AS event_type, b.bucket_ts,
               CAST(COUNT(DISTINCT t.e) AS BIGINT) AS n_distinct
        FROM buckets b
        JOIN tr t ON t.k = b.k
                 AND t.h BETWEEN b.bucket_ts - 82800 AND b.bucket_ts
        GROUP BY 1, 2
    """,
)
def ext_rolling_distinct(spark, sf_dir):
    from hiero_spark.operators.temporal import rolling_distinct

    return rolling_distinct(
        t(spark, sf_dir, "events"), "event_type", "ts", "user_id",
        window_hours=24,
    )


@query(
    "ext_event_transitions",
    group="ext-window",
    doc="Event-transition (Markov) counts: per user, order events by "
        "(ts, event_id) — a verified-total order, the window-fuzzer "
        "lesson — lag the type, count (prev, next) pairs plus each "
        "pair's distinct-user reach. The product-analytics path matrix; "
        "window input is per-user (keys partition the work), output is "
        "|types|^2 rows.",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events
        )
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    """,
)
def ext_event_transitions(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@query(
    "n2_centroid_outliers",
    group="N2",
    doc="Embedding-space outlier audit "
        "(functions/similarity.py:centroid_outliers): top-3 vectors per "
        "group by squared distance to the group centroid, in EXACT "
        "integer micro-unit geometry (half-away round + positive shift "
        "+ floor-averaged centroid), so the outlier ranking itself is "
        "hash-checked with no tolerance — the mis-embedding/domain-"
        "drift quality signal.",
    oracle="""
        WITH ex AS (
          SELECT vec_id, vec_id % 4 AS grp, i - 1 AS dim,
                 CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                      AS BIGINT) + 1000000 AS xm
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
        ), cent AS (
          SELECT grp, dim, SUM(xm) AS s, COUNT(*) AS n
          FROM ex GROUP BY 1, 2
        ), cm AS (SELECT grp, dim, s // n AS c FROM cent),
        sc AS (
          SELECT ex.vec_id, ex.grp,
                 SUM((ex.xm - cm.c) * (ex.xm - cm.c)) AS score
          FROM ex JOIN cm ON cm.grp = ex.grp AND cm.dim = ex.dim
          GROUP BY 1, 2
        ), rk AS (
          SELECT grp, vec_id, score,
                 ROW_NUMBER() OVER (PARTITION BY grp
                                    ORDER BY score DESC, vec_id ASC) AS rnk
          FROM sc
        )
        SELECT CAST(grp AS BIGINT) AS grp, vec_id,
               CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
        FROM rk WHERE rnk <= 3
    """,
)
def n2_centroid_outliers(spark, sf_dir):
    from hiero_spark.functions.similarity import centroid_outliers

    return centroid_outliers(t(spark, sf_dir, "embeddings"), n_groups=4, k=3)


@query(
    "ext_ohlc_downsample",
    group="ext-window",
    doc="OHLC / candlestick downsample: per (event_type, hour) bucket, "
        "open/close are the cents values at the min/max event_id in the "
        "bucket (event_id is the unique total order, so min_by/max_by "
        "are deterministic picks — never a double tiebreak), high/low "
        "are min/max, volume is an exact long cents sum. Hour bucket is "
        "integer epoch-micros DIV — both engines truncate positive "
        "division identically. The whole result is exact longs: the "
        "downsample a monitoring UI or feature pipeline runs over raw "
        "event streams, in ONE partial+final aggregation (min_by/max_by "
        "are mergeable monoids, same shape as every sketch).",
    oracle="""
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               arg_min(CAST(ROUND(value * 100, 0) AS BIGINT), event_id) AS open_cents,
               MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS high_cents,
               MIN(CAST(ROUND(value * 100, 0) AS BIGINT)) AS low_cents,
               arg_max(CAST(ROUND(value * 100, 0) AS BIGINT), event_id) AS close_cents,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS volume_cents
        FROM events
        GROUP BY event_type, hour_bucket
    """,
)
def ext_ohlc_downsample(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    bucketed = ev.select(
        "event_type",
        F.expr("unix_micros(ts) DIV 3600000000").alias("hour_bucket"),
        cents.alias("cents"),
        "event_id",
    )
    return bucketed.groupBy("event_type", "hour_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min_by("cents", "event_id").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", "event_id").alias("close_cents"),
        F.sum("cents").alias("volume_cents"),
    )


@query(
    "ext_time_weighted_avg",
    group="ext-window",
    doc="Time-weighted average value per event type (the TWAP shape): "
        "each observation holds until the next one, so it weighs by its "
        "holding interval — the right mean for irregularly-sampled "
        "series where the plain AVG over-counts bursts. Exactness: "
        "values are cents-exact (scaled-bigint convention), intervals "
        "are integer micros from the total (ts, event_id) order, so "
        "both sums are exact longs and the single closing division is "
        "bit-identical. Bound: cents_max x span_us ~ 1.3e17 << 2^63.",
    oracle="""
        WITH seq AS (
          SELECT event_type,
                 CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                 epoch_us(ts) AS us,
                 LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id) AS nxt
          FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(nxt - us) AS BIGINT) AS span_us,
               ROUND(CAST(SUM(cents * (nxt - us)) AS DOUBLE)
                     / SUM(nxt - us) / 100.0, 6) AS twa_value
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY event_type
    """,
)
def ext_time_weighted_avg(spark, sf_dir):
    from hiero_spark.operators.temporal import ordered_lead

    ev = t(spark, sf_dir, "events")
    # ~10 event types over the corpus: LEAD through ordered_lead's
    # range-partitioned two-phase form (each type fans over ~n_parts
    # tasks; boundary successors resolve via one tiny driver exchange)
    # instead of the single-window form serializing a type per task
    seq = ordered_lead(
        ev.select(
            "event_type",
            "event_id",
            "ts",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            F.unix_micros("ts").alias("us"),
        ),
        ["event_type"],
        ["ts", "event_id"],
        "us",
        out_col="nxt",
    ).filter(F.col("nxt").isNotNull())
    dt = F.col("nxt") - F.col("us")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(dt).alias("span_us"),
        F.round(
            F.sum(F.col("cents") * dt).cast("double") / F.sum(dt) / 100.0, 6
        ).alias("twa_value"),
    )


# The SQL-facade query text IS the oracle: one ANSI string executed by
# BOTH engines (spark.sql over catalog.register_views on one side, DuckDB
# over the same view names on the other). This pins the engine's
# direct-SQL entry path — a reference user can paste their SQL in.
_SQL_FACADE = """
        SELECT n.n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
        HAVING COUNT(*) >= 10
"""


@query(
    "ext_sql_facade",
    group="ext-sql",
    doc="The ANSI-SQL entry path: catalog.register_views + spark.sql "
        "running the ORACLE STRING ITSELF (join x2, filter, group, "
        "having, scaled-cents exact revenue). Demonstrates that the "
        "engine's SQL surface accepts the same dialect the oracles are "
        "written in — Catalyst plans it like any DataFrame query "
        "(pushdown, broadcast dims, partial aggs all apply).",
    oracle=_SQL_FACADE,
)
def ext_sql_facade(spark, sf_dir):
    from hiero_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_FACADE)


@query(
    "n4_readability",
    group="N4",
    doc="Flesch-style readability score per document "
        "(functions/text.py:readability_score): vowel-group syllable "
        "heuristic + sentence split, two exact integer ratios, fixed "
        "three-term sum — bit-identical doubles, shuffle-free. The "
        "text-quality gate flagging dense jargon (low) and keyword "
        "lists (implausibly high).",
    oracle=r"""
        WITH m AS (
          SELECT doc_id,
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
                 len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl,
                 GREATEST(len(list_filter(
                   regexp_split_to_array(text, '[.!?]+'),
                   x -> trim(x) <> '')), 1) AS s
          FROM documents
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS n_words,
               CAST(syl AS BIGINT) AS n_syllables,
               ROUND(206.835
                     - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                     - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)),
                     6) AS flesch
        FROM m
    """,
)
def n4_readability(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        syl.cast("long").alias("n_syllables"),
        tx.readability_score(F.col("text")).alias("flesch"),
    )


_SQL_FACADE_WINDOW = """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC,
                                             o_orderkey ASC) AS rn
          FROM orders
        )
        SELECT o_custkey, o_orderkey AS top_order, cents AS top_cents
        FROM ranked WHERE rn = 1
"""


@query(
    "ext_sql_facade_window",
    group="ext-sql",
    doc="SQL entry path, analytic dialect: a CTE + window function "
        "(per-customer top order by value, deterministic tiebreak) — "
        "again the oracle string IS the executed query, pinning that "
        "windowed/CTE ANSI SQL runs unchanged on both engines.",
    oracle=_SQL_FACADE_WINDOW,
)
def ext_sql_facade_window(spark, sf_dir):
    from hiero_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_FACADE_WINDOW)


@query(
    "n1_jaccard_join_hashed",
    group="N1",
    doc="The 100 TB arm of the exact set-similarity join: shingles "
        "become xxhash64 longs before anything shuffles (31% lower "
        "shuffle bytes at sf0.1, widening with word length). Rows-only "
        "by design — DuckDB has no xxhash64 — with the string-arm "
        "equality pinned in tests (identical pairs modulo 2^-64 "
        "collisions).",
    oracle=None,
)
def n1_jaccard_join_hashed(spark, sf_dir):
    from hiero_spark.functions.setsim import jaccard_join

    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    )
    return jaccard_join(docs, threshold=0.8, k=3, hashed=True)


@query(
    "s17_incremental_quantiles",
    group="S17",
    doc="Incremental quantile maintenance "
        "(functions/incremental.py:quantile_state): orders arrive as 3 "
        "disjoint batches; each builds a fixed-grid histogram state, "
        "states FOLD (counts add, exact longs), and p50/p90/p99 probe "
        "from the merged state as resolution-bounded bucket lower "
        "bounds — pure integer arithmetic, so the oracle (the full "
        "recompute, the s17 invariant) hash-checks with no tolerance. "
        "Unlike GK blobs, this mergeable quantile state stays "
        "SQL-mirrorable. Both sides bucket with explicit FLOOR division "
        "(x - nonneg_mod before the exact divide) because Spark DIV and "
        "DuckDB integer // BOTH truncate toward zero — identical but "
        "wrong lower bounds for negative cents (round-7 ADVICE).",
    oracle="""
        WITH st AS (
          SELECT o_orderstatus AS key,
                 (CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  - ((CAST(ROUND(o_totalprice * 100) AS BIGINT) % 100000
                      + 100000) % 100000)) // 100000 AS bucket,
                 COUNT(*) AS cnt
          FROM orders GROUP BY 1, 2
        ), tot AS (SELECT key, SUM(cnt) AS n FROM st GROUP BY key),
        c AS (
          SELECT st.key, st.bucket, tot.n,
                 SUM(st.cnt) OVER (PARTITION BY st.key ORDER BY st.bucket
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
          FROM st JOIN tot ON tot.key = st.key
        )
        SELECT key,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN bucket END)
                    * 100000 AS BIGINT) AS p50_cents_lo,
               CAST(MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN bucket END)
                    * 100000 AS BIGINT) AS p90_cents_lo,
               CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN bucket END)
                    * 100000 AS BIGINT) AS p99_cents_lo
        FROM c GROUP BY key
    """,
)
def s17_incremental_quantiles(spark, sf_dir):
    from hiero_spark.functions.incremental import (
        merge_quantile_state, quantile_state, quantiles_from_state,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    state = None
    for b in range(3):  # three disjoint ingest batches fold into one state
        batch = orders.filter(F.col("o_orderkey") % 3 == b)
        bs = quantile_state(batch, "o_orderstatus", "cents")
        state = bs if state is None else merge_quantile_state(state, bs)
    return quantiles_from_state(state).withColumnRenamed("key", "key")


@query(
    "n6_weighted_sample_grouped",
    group="N6",
    doc="Stratified PPS: 10 draws PER SOURCE proportional to n_chars "
        "(functions/sampling.py:systematic_pps_sample_grouped) — the "
        "per-domain eval-set assembly shape. Per-group cumulative line "
        "means an ordinary per-key window prefix sum (no global prefix, "
        "no offsets); all-integer selection, exactly 10 draws per "
        "source, hash-stable.",
    oracle="""
        WITH w AS (
          SELECT source, doc_id, CAST(n_chars AS BIGINT) AS wt
          FROM documents
        ), c AS (
          SELECT source, doc_id, wt,
                 SUM(wt) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum,
                 SUM(wt) OVER (PARTITION BY source) AS tw
          FROM w
        ), s AS (
          SELECT source, doc_id, wt,
                 LEAST(CAST(10 AS BIGINT), (20 * cum + tw) // (2 * tw))
                 - LEAST(CAST(10 AS BIGINT),
                         (20 * (cum - wt) + tw) // (2 * tw)) AS n_sel
          FROM c WHERE tw > 0
        )
        SELECT source, doc_id, wt AS n_chars, CAST(n_sel AS BIGINT) AS n_sel
        FROM s WHERE n_sel >= 1
    """,
)
def n6_weighted_sample_grouped(spark, sf_dir):
    from hiero_spark.functions.sampling import systematic_pps_sample_grouped

    return systematic_pps_sample_grouped(
        t(spark, sf_dir, "documents"), k_per_group=10, group_col="source",
        weight_col="n_chars", order_col="doc_id",
    )


from hiero_spark.functions.mmr import mmr_oracle_sql as _mmr_oracle


@query(
    "n2_mmr_diversify",
    group="N2",
    doc="MMR diversified retrieval (functions/mmr.py:mmr_diversify): "
        "greedy lambda-weighted relevance-minus-redundancy top-k, the "
        "standard RAG/retrieval diversifier. Corpus-wide work is ONE "
        "broadcast scoring scan + per-query top-24 window (batch-ANN "
        "shape); the inherently-sequential k-step greedy runs inside "
        "one Arrow batch per query over the 24 survivors. Integer "
        "micro-unit dots and the (7,3)/10 lambda make every score an "
        "exact long; the oracle is the greedy UNROLLED into k chained "
        "CTEs (recursive CTEs disallow aggregates in the recursive "
        "term), hash-checked with no tolerance.",
    oracle=_mmr_oracle(n_queries=4, n_candidates=24, k=8),
)
def n2_mmr_diversify(spark, sf_dir):
    from hiero_spark.functions.mmr import mmr_diversify

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return mmr_diversify(emb, queries, n_candidates=24, k=8)


from hiero_spark.functions.collocations import pmi_oracle_sql as _pmi_oracle


@query(
    "n4_pmi_collocations",
    group="N4",
    doc="PMI collocation mining (functions/collocations.py): top-50 "
        "adjacent bigrams by pointwise mutual information among pairs "
        "seen >= 5 times. ONE explode into a Zipf-compressed (w1, w2) "
        "count shuffle; unigram margins are group-bys over the bigram "
        "count table (never a second corpus scan); log is monotone so "
        "the rank key is the exact integer cross-ratio "
        "c_xy*N*1e6 DIV (c_x*c_y) — both engines truncate toward zero, "
        "so scores hash-match with no tolerance; final top-k is "
        "TakeOrdered.",
    oracle=_pmi_oracle(min_count=5, k=50),
)
def n4_pmi_collocations(spark, sf_dir):
    from hiero_spark.functions.collocations import pmi_collocations

    return pmi_collocations(t(spark, sf_dir, "documents"), min_count=5, k=50)


@query(
    "ext_seasonal_decompose",
    group="ext-window",
    doc="Classical additive seasonal decomposition "
        "(operators/temporal.py:seasonal_decompose): hourly cents "
        "series per event_type -> centered +/-12h RANGE moving-average "
        "trend (full windows only — RANGE so gaps can't de-center), "
        "per hour-of-day seasonal mean of the detrended series, "
        "residual. Every series is carried x25-SCALED so the whole "
        "table is exact longs (the one division, the seasonal mean, "
        "uses DIV — both engines truncate toward zero). Window input "
        "is the downsampled series, never raw events: a key's whole "
        "history fits one task at any corpus size.",
    oracle="""
        WITH h AS (
          SELECT event_type AS key,
                 CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hb,
                 CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS cents
          FROM events GROUP BY 1, 2
        ), tr AS (
          SELECT key, hb, cents,
                 CAST(SUM(cents) OVER w AS BIGINT) AS trend_sum,
                 COUNT(*) OVER w AS n_win
          FROM h WINDOW w AS (PARTITION BY key ORDER BY hb
                              RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ), d AS (
          SELECT key, hb, cents, trend_sum,
                 25 * cents - trend_sum AS detrend, hb % 24 AS phase
          FROM tr WHERE n_win = 25
        ), s AS (
          SELECT key, phase,
                 CAST(SUM(detrend) AS BIGINT) // COUNT(*) AS seasonal
          FROM d GROUP BY 1, 2
        )
        SELECT d.key AS event_type, d.hb AS hour_bucket, d.cents,
               d.trend_sum AS trend_sum25, d.detrend AS detrend_x25,
               CAST(s.seasonal AS BIGINT) AS seasonal_x25,
               CAST(d.detrend - s.seasonal AS BIGINT) AS residual_x25
        FROM d JOIN s USING (key, phase)
    """,
)
def ext_seasonal_decompose(spark, sf_dir):
    from hiero_spark.operators.temporal import seasonal_decompose

    return seasonal_decompose(t(spark, sf_dir, "events"))


@query(
    "ext_top_journeys",
    group="ext-window",
    doc="Top-20 user journeys: each user's first 8 events in (ts, "
        "event_id) order joined into a '>' path string, counted, "
        "top-k by (n_users DESC, path) — the sequence-mining read "
        "behind funnel design. One window pass bounded to rn<=8, one "
        "path-count shuffle whose keys are bounded-length strings; "
        "collect_list stays per-user (<=8 structs), array_sort makes "
        "the order deterministic inside the aggregation (rn is "
        "unique), TakeOrdered for the final k.",
    oracle="""
        WITH e AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ), p AS (
          SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
          FROM e WHERE rn <= 8 GROUP BY user_id
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM p GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 20
    """,
)
def ext_top_journeys(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    firstk = (
        ev.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 8)
    )
    paths = firstk.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


@query(
    "ext_market_basket",
    group="ext-join",
    doc="Market-basket pair mining over order baskets: distinct "
        "(order, part) items self-join WITHIN each order (shuffle on "
        "orderkey; per-order quadratic bounded by basket size, ~7 in "
        "TPC-H — never a corpus-wide cross), pairs canonicalized "
        "pa < pb, counted, support-gated >= 2, top-25 by (support "
        "DESC, pa, pb). Lift rides as the exact integer cross-ratio "
        "c_ab*n_orders*1e6 DIV (c_a*c_b) (the PMI discipline — log/"
        "division-free ranking, truncation identical in both "
        "engines); item margins are group-bys over the ITEMS table, "
        "n_orders is a 1-row scalar broadcast.",
    oracle="""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), pairs AS (
          SELECT a.p AS pa, b.p AS pb
          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        ), pc AS (
          SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS c_ab
          FROM pairs GROUP BY 1, 2
        ), ic AS (
          SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1
        ), n AS (
          SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM items
        )
        SELECT pa, pb, c_ab,
               CAST(c_ab * n_orders * 1000000 // (ia.c * ib.c) AS BIGINT)
                 AS lift_scaled
        FROM pc
        JOIN ic ia ON ia.p = pc.pa
        JOIN ic ib ON ib.p = pc.pb
        CROSS JOIN n
        WHERE c_ab >= 2
        ORDER BY c_ab DESC, pa, pb
        LIMIT 25
    """,
)
def ext_market_basket(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # checkpoint: five consumers (both pair sides, margins, n_orders)
    # would otherwise each re-scan lineitem (observed 5 scans; the PMI
    # lesson — join-key null filters defeat ReuseExchange)
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().localCheckpoint()
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
    pc = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("c_ab"))
    ic = items.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    n = items.agg(F.count_distinct("o").alias("n_orders"))
    return (
        pc.filter(F.col("c_ab") >= 2)
        .join(ic.select(F.col("p").alias("pa"), F.col("c").alias("c_a")), "pa")
        .join(ic.select(F.col("p").alias("pb"), F.col("c").alias("c_b")), "pb")
        .join(F.broadcast(n))
        .select(
            "pa", "pb", "c_ab",
            F.expr("c_ab * n_orders * 1000000 DIV (c_a * c_b)").alias(
                "lift_scaled"
            ),
        )
        .orderBy(F.desc("c_ab"), F.asc("pa"), F.asc("pb"))
        .limit(25)
    )


@query(
    "n1_entity_resolution",
    group="N1",
    doc="Entity-resolution flagship: deterministic dirty records "
        "(every 5th customer re-appears with its name's 3rd char "
        "dropped, id offset +1e6) -> blocking on (nationkey, "
        "acctbal_cents) -> levenshtein<=1 match INSIDE blocks (never "
        "all-pairs; block size bounds the quadratic) -> "
        "connected_components (hash-min + pointer jumping) -> golden "
        "record per cluster (min-id's name via min_by). The oracle is "
        "the SAME general pipeline in SQL — blocks, levenshtein, and "
        "a recursive-CTE transitive closure — so accidental matches "
        "(distinct customers sharing a block with near-identical "
        "names) resolve identically in both engines; nothing relies "
        "on the planted star shape.",
    oracle="""
        WITH RECURSIVE recs AS (
          SELECT c_custkey AS rec_id, c_name AS name,
                 c_nationkey AS nat,
                 CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
          FROM customer
          UNION ALL
          SELECT c_custkey + 1000000,
                 SUBSTRING(c_name, 1, 2) || SUBSTRING(c_name, 4),
                 c_nationkey,
                 CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
          FROM customer WHERE c_custkey % 5 = 0
        ), e AS (
          SELECT a.rec_id AS u, b.rec_id AS v
          FROM recs a
          JOIN recs b ON a.nat = b.nat AND a.cents = b.cents
                     AND a.rec_id < b.rec_id
          WHERE levenshtein(a.name, b.name) <= 1
        ), sym AS (
          SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
        ), reach AS (
          SELECT u AS node, u AS lbl FROM sym
          UNION
          SELECT r.node, s.v AS lbl
          FROM reach r JOIN sym s ON s.u = r.lbl
        ), comp AS (
          SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
        )
        SELECT comp.component AS canonical_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               arg_min(r.name, r.rec_id) AS canonical_name
        FROM comp JOIN recs r ON r.rec_id = comp.node
        GROUP BY comp.component
    """,
)
def n1_entity_resolution(spark, sf_dir):
    from hiero_spark.functions.graph import connected_components

    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        cents.alias("cents"),
    )
    variants = cust.filter(F.col("rec_id") % 5 == 0).select(
        (F.col("rec_id") + 1_000_000).alias("rec_id"),
        F.concat(
            F.substring("name", 1, 2), F.expr("substring(name, 4)")
        ).alias("name"),
        "nat",
        "cents",
    )
    recs = cust.unionByName(variants)
    # collapse IDENTICAL records before the pairwise stage (the
    # containment-join lesson, round-9): g verbatim copies of a record
    # would otherwise generate g^2 levenshtein pairs inside their block
    # for what is one entity relationship — duplicate-heavy corpora are
    # the NORMAL regime for entity resolution. Distinct records carry a
    # representative id + multiplicity; CC runs over representatives and
    # multiplicities re-expand in the final member counts.
    groups = (
        recs.groupBy("name", "nat", "cents")
        .agg(F.min("rec_id").alias("rec_id"), F.count(F.lit(1)).alias("n_ids"))
        .localCheckpoint()
    )
    a, b = groups.alias("a"), groups.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.nat") == F.col("b.nat"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1)
        .select(F.col("a.rec_id").alias("src"), F.col("b.rec_id").alias("dst"))
    )
    # n_iter is a convergence CAP (round 15): connected_components
    # early-exits the round after no label changes.  The star-shaped
    # clusters here (observed diameter 2 at every shipped SF) converge
    # in round 1 (reach d_1 = 2) and exit at round 2 — one round FEWER
    # than the old fixed 3 — while a pathological deep cluster keeps
    # iterating up to the cap instead of silently returning
    # unconverged labels.
    comp = connected_components(edges, n_iter=30)
    # The contract (and oracle) lists MATCHED entities only — a record
    # with no duplicate and no fuzzy partner is not an entity cluster.
    # Under the collapse, "matched" means: the group's representative
    # appears in an edge, OR the group itself holds >= 2 verbatim copies
    # (the oracle sees those as a levenshtein-0 edge; collapsed, the
    # edge is internal to the group).
    joined = groups.join(comp, groups["rec_id"] == comp["node"], "left")
    base = joined.filter(
        F.col("component").isNotNull() | (F.col("n_ids") >= 2)
    ).select(
        F.coalesce(F.col("component"), F.col("rec_id")).alias("component"),
        "rec_id",
        "name",
        "n_ids",
    )
    return (
        base.groupBy("component")
        .agg(
            F.sum("n_ids").cast("long").alias("n_members"),
            F.min_by("name", "rec_id").alias("canonical_name"),
        )
        .select(
            F.col("component").alias("canonical_id"),
            "n_members",
            "canonical_name",
        )
    )
