"""Dataset-assembly queries (train splits, vocabulary, decontamination) —
the training-data operators beyond the reference inventory, each with a
DuckDB oracle. PII scrubbing (functions/pipeline.py:scrub_pii) is
unit-tested with planted emails/phones instead of registered: the synthetic
corpus contains neither, so its oracle would only ever hash zeros."""

from __future__ import annotations

from pyspark.sql import functions as F

from hiero_spark.functions import pipeline as pl
from hiero_spark.registry import query
from hiero_spark.queries._util import t


@query(
    "n6_train_split",
    group="N6",
    doc="Deterministic 80/10/10 train/val/test split of the document corpus "
        "(pmod buckets on doc_id), audited as per-(split, lang) doc counts "
        "and char totals — the reproducibility report a dataset card needs.",
    oracle="""
        SELECT CASE WHEN doc_id % 100 < 80 THEN 'train'
                    WHEN doc_id % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1, 2
    """,
)
def n6_train_split(spark, sf_dir):
    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "n6_leakage_safe_split",
    group="N6",
    doc="Leakage-safe train/val/test split: assignment at exact-duplicate-"
        "CLUSTER granularity (functions/pipeline.py:cluster_safe_split) — "
        "every copy of a text inherits the split of its cluster "
        "representative (min doc_id over the md5 fingerprint group), so "
        "duplicates can never straddle the train/test boundary (the "
        "eval-contamination failure per-document splits reproduce). "
        "Audited as per-split doc and cluster counts plus char totals.",
    oracle="""
        WITH reps AS (
          SELECT md5(text) AS fp, MIN(doc_id) AS rep
          FROM documents GROUP BY 1
        ), assigned AS (
          SELECT d.doc_id, d.n_chars, r.rep,
                 CASE WHEN r.rep % 100 < 80 THEN 'train'
                      WHEN r.rep % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents d JOIN reps r ON md5(d.text) = r.fp
        )
        SELECT split,
               COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM assigned GROUP BY 1
    """,
)
def n6_leakage_safe_split(spark, sf_dir):
    docs = pl.cluster_safe_split(t(spark, sf_dir, "documents"), "text", "doc_id")
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("_rep").cast("long").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "n6_vocab_topk",
    group="N6",
    doc="Corpus vocabulary: top-20 tokens by frequency (lowercased "
        "whitespace tokens; ties break on the token). Explode + "
        "partial/final count + TakeOrderedAndProject.",
    oracle=r"""
        WITH toks AS (
          SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          FROM documents
        )
        SELECT token, COUNT(*) AS freq
        FROM toks WHERE token <> ''
        GROUP BY token
        ORDER BY freq DESC, token ASC
        LIMIT 20
    """,
)
def n6_vocab_topk(spark, sf_dir):
    return pl.token_vocab(t(spark, sf_dir, "documents"), "text", k=20)


@query(
    "n6_decontamination",
    group="N6",
    doc="Benchmark decontamination: test-split docs sharing any word "
        "3-gram with the train split (same shingling as MinHash dedup; "
        "one distinct + one semi-join).",
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
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN train_sh USING (shingle)
        WHERE s.b >= 90
    """,
)
def n6_decontamination(spark, sf_dir):
    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    return pl.contaminated_docs(
        docs.filter(F.col("split") == "test"),
        docs.filter(F.col("split") == "train"),
        "text",
        "doc_id",
        k=3,
    )


@query(
    "n6_decontamination_hashed",
    group="N6",
    doc="Decontamination on xxhash64(shingle) longs instead of gram "
        "strings — the 100 TB shuffle shape (8-byte fixed-width keys). "
        "Collisions at ~2^-64 per pair cannot change the doc-id set at "
        "oracle scale, so the string variant's oracle verifies this too.",
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
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN train_sh USING (shingle)
        WHERE s.b >= 90
    """,
)
def n6_decontamination_hashed(spark, sf_dir):
    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    return pl.contaminated_docs(
        docs.filter(F.col("split") == "test"),
        docs.filter(F.col("split") == "train"),
        "text",
        "doc_id",
        k=3,
        hashed=True,
    )


@query(
    "n6_decontamination_bloom",
    group="N6",
    doc="Decontamination via a broadcast Bloom filter (functions/bloom.py): "
        "the train side folds into a 4M-bit bitmap (one bounded-shuffle "
        "bit_or aggregation; grams never shuffle, never distinct), the "
        "eval side probes it as a narrow per-row filter — zero joins. "
        "Hashable property verdict: anchor = the exact contaminated-doc "
        "count; booleans assert the Bloom flag set is a superset of the "
        "exact set (no false negatives — guaranteed by construction) and "
        "that false-positive extras stay under 5% of eval docs (expected "
        "~0 at the default sizing; deterministic given the fixed hash "
        "family).",
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
        ), exact AS (
          SELECT DISTINCT s.doc_id
          FROM sh s JOIN train_sh USING (shingle)
          WHERE s.b >= 90
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
               TRUE AS no_false_negatives,
               TRUE AS extras_bounded
        FROM exact
    """,
)
def n6_decontamination_bloom(spark, sf_dir):
    from hiero_spark.functions import bloom as bl

    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    ev = docs.filter(F.col("split") == "test")
    tr = docs.filter(F.col("split") == "train")
    flagged = bl.contaminated_docs_bloom(ev, tr, "text", "doc_id", k=3)
    exact = pl.contaminated_docs(ev, tr, "text", "doc_id", k=3, hashed=True)
    missed = exact.join(flagged, "doc_id", "left_anti")
    extras = flagged.join(exact, "doc_id", "left_anti")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .join(F.broadcast(missed.agg(F.count(F.lit(1)).alias("_n_miss"))))
        .join(F.broadcast(extras.agg(F.count(F.lit(1)).alias("_n_extra"))))
        .join(F.broadcast(ev.agg(F.count(F.lit(1)).alias("_n_ev"))))
        .select(
            "n_exact",
            (F.col("_n_miss") == 0).alias("no_false_negatives"),
            (F.col("_n_extra") <= F.greatest(F.lit(1), F.col("_n_ev") / 20)).alias(
                "extras_bounded"
            ),
        )
    )


@query(
    "n4_lm_perplexity",
    group="N4",
    doc="CCNet-style LM quality signal (functions/lm.py): a Laplace-"
        "smoothed bigram model trained on the train split scores every "
        "test-split doc by mean log p(w2|w1) — low = fluent-like-train, "
        "high = boilerplate/gibberish. Train = two count aggregations "
        "(model stays a distributed DataFrame pair; V is the only driver "
        "scalar); score = two left joins on gram keys + one groupBy. The "
        "oracle recomputes the entire model in SQL; ln agrees to ~1e-15 "
        "across engines, rounded to 6 decimals.",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, doc_id % 100 AS b,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM documents
        ), c1 AS (
          SELECT w1, COUNT(*) AS c1 FROM (
            SELECT UNNEST(w) AS w1 FROM toks WHERE b < 80
          ) WHERE w1 <> '' GROUP BY w1
        ), v AS (
          SELECT COUNT(*) AS v FROM c1
        ), c2 AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM (
            SELECT w[i] AS w1, w[i+1] AS w2
            FROM toks, UNNEST(range(1, len(w))) u(i) WHERE b < 80
          ) GROUP BY w1, w2
        ), bg_test AS (
          SELECT doc_id, w[i] AS w1, w[i+1] AS w2
          FROM toks, UNNEST(range(1, len(w))) u(i) WHERE b >= 90
        ), sc AS (
          SELECT t.doc_id,
                 ln((COALESCE(c2.c2, 0) + 1.0)
                    / (COALESCE(c1.c1, 0) + v.v)) AS lp
          FROM bg_test t
          LEFT JOIN c2 ON c2.w1 = t.w1 AND c2.w2 = t.w2
          LEFT JOIN c1 ON c1.w1 = t.w1
          CROSS JOIN v
        )
        SELECT d.doc_id,
               COALESCE(agg.n, 0) AS n_bigrams,
               ROUND(agg.a, 6) AS avg_logp
        FROM (SELECT doc_id FROM toks WHERE b >= 90) d
        LEFT JOIN (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, AVG(lp) AS a
          FROM sc GROUP BY doc_id
        ) agg USING (doc_id)
    """,
)
def n4_lm_perplexity(spark, sf_dir):
    from hiero_spark.functions import lm

    docs = pl.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    tr = docs.filter(F.col("split") == "train")
    te = docs.filter(F.col("split") == "test")
    c1, c2, v = lm.train_bigram_lm(tr, "text", "doc_id")
    return lm.lm_score(te, "text", "doc_id", c1, c2, v).select(
        "doc_id", "n_bigrams", F.round("avg_logp", 6).alias("avg_logp")
    )


@query(
    "n4_bpe_training",
    group="N4",
    doc="In-engine BPE tokenizer training (functions/bpe.py): the corpus "
        "compresses to its word-frequency dict in ONE shuffle, then 8 "
        "merge rounds run over the dict (pair counting = partial+final "
        "agg; ties break lexicographically, so the learned merges are "
        "deterministic across runs/partitionings). Cross-engine check: "
        "the oracle recomputes the FIRST merge — the top "
        "frequency-weighted adjacent char pair — in SQL, plus the "
        "distinct-word anchor; deeper merges are pinned by unit tests "
        "(classic aaabdaaabac fixture, determinism, encode round-trip).",
    oracle=r"""
        WITH w AS (
          SELECT word, COUNT(*) AS cnt FROM (
            SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+'))
                   AS word
            FROM documents
          ) WHERE word <> '' GROUP BY word
        ), pairs AS (
          SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, cnt
          FROM w, UNNEST(range(1, len(word))) u(i)
        ), top AS (
          SELECT a, b FROM pairs GROUP BY a, b
          ORDER BY SUM(cnt) DESC, a, b LIMIT 1
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_words,
               (SELECT a FROM top) AS first_a,
               (SELECT b FROM top) AS first_b,
               CAST(8 AS INT) AS n_merges_learned
    """,
)
def n4_bpe_training(spark, sf_dir):
    from hiero_spark.functions import bpe
    from hiero_spark.functions._cachetrack import persist_tracked

    # Two consumers of the corpus-scale word dict — train_bpe's initial
    # symbol-array materialization and the declared n_words aggregate —
    # would each re-run the corpus tokenize+groupBy without the tracked
    # persist (round-14, guide §1.2).
    words = persist_tracked(bpe.word_dict(t(spark, sf_dir, "documents"), "text"))
    merges = bpe.train_bpe(words, n_merges=8)
    return words.agg(F.count(F.lit(1)).cast("long").alias("n_words")).select(
        "n_words",
        F.lit(merges[0][0]).alias("first_a"),
        F.lit(merges[0][1]).alias("first_b"),
        F.lit(len(merges)).cast("int").alias("n_merges_learned"),
    )


@query(
    "n6_pack_bins",
    group="N6",
    doc="Token-budget packing (concat-then-chunk): documents laid out in "
        "deterministic id order within 8 shards; bin = floor(running char "
        "offset / 2000). Per-shard windows keep packing parallel AND "
        "reproducible — the pretraining context-window fill step.",
    oracle="""
        SELECT doc_id, doc_id % 8 AS shard,
               CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
                   PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2000) AS BIGINT) AS bin_id
        FROM documents
    """,
)
def n6_pack_bins(spark, sf_dir):
    return pl.pack_into_bins(
        t(spark, sf_dir, "documents"), "doc_id", "n_chars", budget=2000, shards=8
    )


@query(
    "n6_mixture_sample",
    group="N6",
    doc="Domain-mixture sampling as a hashable property verdict: each "
        "language drawn at its own rate (en down-weighted to 0.5, the rest "
        "up at 1.0/0.8) via sampleBy — narrow, no shuffle. Anchor = exact "
        "per-language corpus counts; boolean asserts every language's "
        "sampled count sits within 6 sigma of its binomial target.",
    oracle="""
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang, TRUE AS size_ok
        FROM documents GROUP BY lang
    """,
)
def n6_mixture_sample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "zh": 1.0, "es": 1.0, "de": 0.8, "fr": 0.8}
    sampled = pl.mixture_sample(docs, "lang", fractions)
    s_counts = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("_n_s"))
    frac = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
    base = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    p = frac[F.col("lang")]
    exp = F.col("n_lang") * p
    sigma = F.sqrt(F.col("n_lang") * p * (1 - p))
    return (
        base.join(s_counts, "lang", "left")
        .select(
            "lang",
            "n_lang",
            (
                F.abs(F.coalesce(F.col("_n_s"), F.lit(0)) - exp) <= 6 * sigma + 1
            ).alias("size_ok"),
        )
    )


@query(
    "n6_global_shuffle",
    group="N6",
    doc="Deterministic global shuffle (the required pre-export step — "
        "clustered sources otherwise feed training long single-domain "
        "runs): range-partitioned sort on a mirrorable multiplicative-hash "
        "permutation of doc_id (terasort shape, no single reduce point). "
        "Output = the first 200 shuffled docs WITH their positions, so the "
        "oracle checks the order itself, not just membership (the driver's "
        "value hash is order-insensitive).",
    oracle=f"""
        WITH k AS (
          SELECT doc_id,
                 ((doc_id + 7) * {pl._LCG_MULT}) % {pl._LCG_MOD} AS skey
          FROM documents
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS INT) AS pos,
               doc_id, skey
        FROM k
        ORDER BY skey, doc_id
        LIMIT 200
    """,
)
def n6_global_shuffle(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    key = pl.shuffle_key(F.col("doc_id"), seed=7)
    # TakeOrderedAndProject for the top-200 (scale-safe); the row_number
    # window then runs over 200 rows, not the corpus.
    top = (
        docs.select("doc_id", key.alias("skey"))
        .orderBy(F.col("skey").asc(), F.col("doc_id").asc())
        .limit(200)
    )
    w = Window.orderBy(F.col("skey").asc(), F.col("doc_id").asc())
    return top.withColumn("pos", F.row_number().over(w)).select(
        "pos", "doc_id", "skey"
    )


@query(
    "n6_chunk_documents",
    group="N6",
    doc="Overlapping token-window chunking (pre-embedding / pre-training "
        "step for long docs): 32-token chunks, 8-token overlap, stride 24. "
        "Narrow per-row fan-out — split once, posexplode a chunk-index "
        "sequence, slice per chunk; no shuffle. The oracle recomputes "
        "chunk boundaries with DuckDB list slicing.",
    oracle=r"""
        WITH t0 AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        ), c AS (
          SELECT doc_id, toks,
                 GREATEST(CAST(CEIL((len(toks) - 8) / 24.0) AS INT), 1)
                   AS n_chunks
          FROM t0
        ), e AS (
          SELECT doc_id, toks, UNNEST(range(0, n_chunks)) AS cid FROM c
        )
        SELECT doc_id, CAST(cid AS INT) AS chunk_id,
               array_to_string(list_slice(toks, cid * 24 + 1, cid * 24 + 32),
                               ' ') AS chunk_text,
               CAST(len(list_slice(toks, cid * 24 + 1, cid * 24 + 32))
                    AS BIGINT) AS n_tokens
        FROM e
    """,
)
def n6_chunk_documents(spark, sf_dir):
    return pl.chunk_documents(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        chunk_tokens=32, overlap=8,
    )


@query(
    "n6_stratified_sample",
    group="N6",
    doc="Exact-quota stratified sample: the 50 pseudorandom-first docs of "
        "every language (mixture_sample's sampleBy draws have binomial "
        "wobble; eval sets need exact counts). One shuffle on the stratum "
        "key + per-stratum window rank over the mirrorable shuffle key — "
        "bit-reproducible across runs and engines.",
    oracle=f"""
        WITH r AS (
          SELECT lang, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ((doc_id + 3) * {pl._LCG_MULT}) % {pl._LCG_MOD},
                            doc_id
                 ) AS rk
          FROM documents
        )
        SELECT lang, doc_id FROM r WHERE rk <= 50
    """,
)
def n6_stratified_sample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return pl.stratified_sample(docs, "lang", "doc_id", 50, seed=3).select(
        "lang", "doc_id"
    )


@query(
    "n6_hash_sample",
    group="N6",
    doc="Deterministic content-addressed 10% sample "
        "(functions/sampling.py:hash_sample): keep a doc iff the first 8 "
        "md5 hex chars of (doc_id || '|' || salt) sort under the fraction "
        "threshold — the reproducible-subset contract rand()-seeded "
        "samplers can't give (their kept set changes with partitioning "
        "and engine; a14/p8 are rows-only for exactly that reason, this "
        "one is fully hash-verifiable).  Same salt + larger fraction is a "
        "strict superset: an eval set that can GROW without resampling.  "
        "Scale shape: narrow map-side filter at the scan, no shuffle.",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || '|s1'), 1, 8)
              < '19999999'
    """,
)
def n6_hash_sample(spark, sf_dir):
    from hiero_spark.functions.sampling import hash_sample

    docs = t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1, salt="s1").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "n6_mixture_hash_sample",
    group="N6",
    doc="Deterministic mixture assembly "
        "(functions/sampling.py:hash_sample_grouped): each language keeps "
        "docs at its own content-addressed rate (en 10%, fr 35%, zh 100%; "
        "unlisted langs fail CLOSED at the 0.0 default) — the reproducible "
        "twin of n6_mixture_sample, whose sampleBy coins change with "
        "partitioning/appends/engine.  Raising one domain's fraction grows "
        "that domain as a strict superset without disturbing the others — "
        "the 'dial up an under-represented source' step.  The fraction>=1.0 "
        "threshold is the hex-incomparable string 'g', so one comparison "
        "covers the whole [0,1] range and NULL keys drop under 3VL with no "
        "early-return seam.  Scale shape: one CASE over the group column + "
        "the same narrow map-side filter as n6_hash_sample — no shuffle, "
        "no join against a fractions table.",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || '|mx'), 1, 8)
              < CASE WHEN lang = 'en' THEN '19999999'
                     WHEN lang = 'fr' THEN '59999999'
                     WHEN lang = 'zh' THEN 'g'
                     ELSE '00000000' END
    """,
)
def n6_mixture_hash_sample(spark, sf_dir):
    from hiero_spark.functions.sampling import hash_sample_grouped

    docs = t(spark, sf_dir, "documents")
    return hash_sample_grouped(
        docs, "doc_id", "lang",
        {"en": 0.1, "fr": 0.35, "zh": 1.0}, salt="mx",
    ).select("doc_id", "lang", "n_chars")


@query(
    "n6_kmin_sample",
    group="N6",
    doc="Deterministic EXACT-size sample (functions/sampling.py:"
        "kmin_sample): the 40 docs with the lowest md5(doc_id || '|ks') "
        "digests — bottom-k/KMV sampling, the fixed-SIZE twin of "
        "n6_hash_sample's fixed-fraction contract.  Reproducible across "
        "engines/partitionings (the oracle runs the identical ORDER BY "
        "md5 LIMIT k), monotone in k (a grown eval set keeps its prefix), "
        "and MERGEABLE: bottom-k of a union equals bottom-k of per-shard "
        "bottom-k's, so 100 TB samples k per shard then one k-row merge.  "
        "Scale shape: TakeOrderedAndProject (per-partition heaps + one "
        "k-row merge), never a global sort.",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR) || '|ks') ASC, doc_id ASC
        LIMIT 40
    """,
)
def n6_kmin_sample(spark, sf_dir):
    from hiero_spark.functions.sampling import kmin_sample

    docs = t(spark, sf_dir, "documents")
    return kmin_sample(docs, "doc_id", 40, salt="ks").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "n6_kmin_sample_grouped",
    group="N6",
    doc="Deterministic EXACT-k-PER-GROUP sample (functions/sampling.py:"
        "kmin_sample_grouped): the 15 docs per language with the lowest "
        "md5(doc_id || '|kg') digests — 'exactly 15 eval docs per "
        "language, reproducibly', the per-stratum twin of n6_kmin_sample "
        "(groups smaller than 15 return whole; NULL keys/groups drop, "
        "the fail-closed rule).  Scale shape: one hash exchange on lang, "
        "then WindowGroupLimit keeps each map task's local per-group "
        "bottom-15 BEFORE the shuffle (plan-pinned) — a 100 TB table "
        "shuffles at most k rows per (group, input partition), and the "
        "per-group sort is within-partition, never global.",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM (
          SELECT doc_id, lang, n_chars,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '|kg') ASC,
                            doc_id ASC
                 ) AS rn
          FROM documents
          WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        ) WHERE rn <= 15
    """,
)
def n6_kmin_sample_grouped(spark, sf_dir):
    from hiero_spark.functions.sampling import kmin_sample_grouped

    docs = t(spark, sf_dir, "documents")
    return kmin_sample_grouped(docs, "doc_id", "lang", 15, salt="kg").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "n6_weighted_race_sample",
    group="N6",
    doc="Deterministic weighted EXACT-k sample WITHOUT replacement "
        "(functions/sampling.py:weighted_kmin_sample): 25 docs drawn with "
        "inclusion probability increasing in n_chars via the "
        "Efraimidis-Spirakis exponential race, E = -ln(u)/w over a "
        "md5-derived uniform — 'length-weighted eval set, reproducibly'.  "
        "Complements n6_weighted_sample's integer-exact PPS multiplicity design "
        "with the distinct-rows / no-global-state design: bottom-k over a "
        "per-row score is MERGEABLE (k per shard + one k-row merge) and "
        "compiles to TakeOrderedAndProject, never a global sort "
        "(plan-pinned).  The score column is internal-only — engine libm "
        "ln() differs in the last ulp (measured 92/500 values at sf0.01) "
        "— but the selected SET hash-matches: the k-th/(k+1)-th boundary "
        "gap concentrates at relative size ~1/k, thirteen orders above "
        "ulp noise (see the function docstring).",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
        ORDER BY -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                                                || '|ws'), 1, 13))
                           AS BIGINT) + 0.5) / 4503599627370496.0)
                 / CAST(n_chars AS DOUBLE) ASC,
                 doc_id ASC
        LIMIT 25
    """,
)
def n6_weighted_race_sample(spark, sf_dir):
    from hiero_spark.functions.sampling import weighted_kmin_sample

    docs = t(spark, sf_dir, "documents")
    return weighted_kmin_sample(docs, "doc_id", "n_chars", 25, salt="ws").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "n6_curriculum_order",
    group="N6",
    doc="Curriculum ordering: documents staged easy->hard by fixed "
        "quality-score bands, deterministically shuffled WITHIN each "
        "stage (the anti-clustering requirement applies per stage too), "
        "first 50 positions per stage emitted with their order. Scale "
        "shape: banding is a pure expression (no global sort, unlike "
        "ntile), the within-stage order is the mirrorable LCG "
        "permutation of n6_global_shuffle, and the rank<=50 filter "
        "triggers Spark's WindowGroupLimit (per-partition top-k BEFORE "
        "the per-stage shuffle) so no stage ever materializes its full "
        "membership on one reducer.",
    oracle=f"""
        WITH q AS (
          SELECT doc_id,
                 LEAST(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                            AS DOUBLE) / 100.0, 1.0) * 0.6 +
                 (CASE WHEN CAST(length(text) AS DOUBLE)
                            / len(regexp_split_to_array(trim(text), '\\s+'))
                            BETWEEN 3.0 AND 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.4 AS quality
          FROM documents
        ), staged AS (
          SELECT doc_id, quality,
                 CASE WHEN quality < 0.55 THEN 1
                      WHEN quality < 0.70 THEN 2
                      WHEN quality < 0.85 THEN 3
                      ELSE 4 END AS stage,
                 ((doc_id + 11) * {pl._LCG_MULT}) % {pl._LCG_MOD} AS skey
          FROM q
        ), ranked AS (
          SELECT stage, doc_id, quality, skey,
                 CAST(ROW_NUMBER() OVER (PARTITION BY stage
                                         ORDER BY skey, doc_id) AS INT) AS pos
          FROM staged
        )
        SELECT stage, pos, doc_id, ROUND(quality, 6) AS quality
        FROM ranked WHERE pos <= 50
    """,
)
def n6_curriculum_order(spark, sf_dir):
    from hiero_spark.functions import text as tx
    from hiero_spark.operators.grouptopk import grouped_topk

    docs = t(spark, sf_dir, "documents")
    q = F.col("quality")
    staged = docs.select(
        "doc_id",
        tx.quality_score(F.col("text")).alias("quality"),
    ).select(
        "doc_id",
        "quality",
        F.when(q < 0.55, 1)
        .when(q < 0.70, 2)
        .when(q < 0.85, 3)
        .otherwise(4)
        .alias("stage"),
        pl.shuffle_key(F.col("doc_id"), seed=11).alias("skey"),
    )
    # 4 stages over the whole corpus: the textbook per-stage window
    # serializes a stage onto one task; grouped_topk fans it over salt
    # buckets and only 50*n_salt survivors reach the final rank
    ranked = grouped_topk(
        staged, "stage",
        [F.col("skey").asc(), F.col("doc_id").asc()],
        salt_col="doc_id", k=50,
    )
    return ranked.select(
        "stage",
        F.col("rank").cast("int").alias("pos"),
        "doc_id",
        F.round("quality", 6).alias("quality"),
    )


@query(
    "n6_oov_curve",
    group="N6",
    doc="Vocabulary-coverage curve: share of total token OCCURRENCES "
        "covered by the top-V tokens, for V in (100, 1000, 10000) — the "
        "number that sizes a tokenizer vocabulary (its complement is "
        "the OOV rate). Scale shape: ONE token-count shuffle "
        "(Zipf-compressed), then TakeOrderedAndProject keeps only the "
        "top-10k vocab rows (per-partition top-k merge, never a global "
        "sort of the vocabulary); the rank window and cutoff sums run "
        "over that bounded 10k-row frame. Coverage is an exact integer "
        "ratio rounded once.",
    oracle=r"""
        WITH toks AS (
          SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          FROM documents
        ), counts AS (
          SELECT token, COUNT(*) AS freq FROM toks
          WHERE token <> '' GROUP BY token
        ), total AS (SELECT SUM(freq) AS n FROM counts),
        top AS (
          SELECT freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rk
          FROM counts ORDER BY freq DESC, token ASC LIMIT 10000
        )
        SELECT v.vocab_size,
               CAST(COALESCE(SUM(CASE WHEN t.rk <= v.vocab_size
                                      THEN t.freq END), 0) AS BIGINT)
                 AS covered_occurrences,
               CAST(MAX(total.n) AS BIGINT) AS total_occurrences,
               ROUND(COALESCE(SUM(CASE WHEN t.rk <= v.vocab_size
                                       THEN t.freq END), 0)
                     * 1.0 / MAX(total.n), 6) AS coverage
        FROM (VALUES (100), (1000), (10000)) v(vocab_size), top t, total
        GROUP BY v.vocab_size
    """,
)
def n6_oov_curve(spark, sf_dir):
    from pyspark.sql.window import Window

    toks = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("token")
        )
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = counts.agg(F.sum("freq").alias("n"))
    top = counts.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(10000)
    ranked = top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("token").asc())
        ),
    )
    # cutoffs ride an exploded literal array (no join node at all); the
    # 1-row total is the documented scalar-broadcast shape
    return (
        ranked.withColumn(
            "vocab_size", F.explode(F.array(F.lit(100), F.lit(1000), F.lit(10000)))
        )
        .crossJoin(F.broadcast(total))
        .groupBy("vocab_size")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rk") <= F.col("vocab_size"), F.col("freq"))),
                F.lit(0),
            ).cast("long").alias("covered_occurrences"),
            F.max("n").cast("long").alias("total_occurrences"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("rk") <= F.col("vocab_size"), F.col("freq"))
                    ),
                    F.lit(0),
                )
                * F.lit(1.0)
                / F.max("n"),
                6,
            ).alias("coverage"),
        )
    )


@query(
    "n6_dataset_drift",
    group="N6",
    doc="Statistical drift audit (PSI) between two corpus snapshots "
        "(deterministically: even vs odd doc_ids): per document-length "
        "bucket, reference/current counts and the Population Stability "
        "Index term, plus the running PSI in bucket order (last row = "
        "total; terms are nonnegative by construction). n6_dataset_diff "
        "answers WHICH rows changed; this answers whether the "
        "DISTRIBUTION moved and where. Cross-engine exactness: +1 "
        "Laplace smoothing keeps every ln over a POSITIVE INTEGER "
        "(the n4_char_entropy discipline — both engines call libm on "
        "identical ints; ln(p_c/p_r) decomposes to 4 integer-input "
        "logs so no products can overflow at scale), and the running "
        "sum is window-ordered, never an unordered double aggregate. "
        "ONE scan, output bounded by the 10-bucket domain.",
    oracle=r"""
        WITH d AS (
          SELECT doc_id % 2 AS side,
                 LEAST(len(regexp_split_to_array(trim(text), '\s+')) // 10,
                       9) AS bucket
          FROM documents
        ), b AS (
          SELECT g.bucket,
                 COALESCE(SUM(CASE WHEN side = 0 THEN 1 END), 0) + 1 AS nr,
                 COALESCE(SUM(CASE WHEN side = 1 THEN 1 END), 0) + 1 AS nc
          FROM (SELECT UNNEST(range(0, 10)) AS bucket) g
          LEFT JOIN d ON d.bucket = g.bucket
          GROUP BY g.bucket
        ), tot AS (
          SELECT SUM(nr) AS tr, SUM(nc) AS tc FROM b
        ), terms AS (
          SELECT bucket,
                 CAST(nr - 1 AS BIGINT) AS n_ref,
                 CAST(nc - 1 AS BIGINT) AS n_cur,
                 (nc * 1.0 / tc - nr * 1.0 / tr)
                 * (ln(nc) - ln(tc) - ln(nr) + ln(tr)) AS term
          FROM b, tot
        )
        SELECT bucket, n_ref, n_cur,
               ROUND(term, 6) AS psi_term,
               ROUND(SUM(term) OVER (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                 AS cum_psi
        FROM terms
    """,
)
def n6_dataset_drift(spark, sf_dir):
    from pyspark.sql.window import Window

    from hiero_spark.functions import text as tx

    d = t(spark, sf_dir, "documents").select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("side"),
        F.least(
            (tx.token_count(F.col("text")) / F.lit(10)).cast("long"),
            F.lit(9),
        ).alias("bucket"),
    )
    grid = spark.createDataFrame([(i,) for i in range(10)], "bucket long")
    b = (
        grid.join(d, "bucket", "left")
        .groupBy("bucket")
        .agg(
            (
                F.coalesce(F.sum(F.when(F.col("side") == 0, 1)), F.lit(0)) + 1
            ).alias("nr"),
            (
                F.coalesce(F.sum(F.when(F.col("side") == 1, 1)), F.lit(0)) + 1
            ).alias("nc"),
        )
    )
    tot = b.agg(F.sum("nr").alias("tr"), F.sum("nc").alias("tc"))
    terms = b.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("nr") - 1).cast("long").alias("n_ref"),
        (F.col("nc") - 1).cast("long").alias("n_cur"),
        (
            (F.col("nc") * F.lit(1.0) / F.col("tc")
             - F.col("nr") * F.lit(1.0) / F.col("tr"))
            * (F.log("nc") - F.log("tc") - F.log("nr") + F.log("tr"))
        ).alias("term"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round("term", 6).alias("psi_term"),
        F.round(F.sum("term").over(w), 6).alias("cum_psi"),
    )
