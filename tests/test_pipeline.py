"""Dataset-assembly operators: splits, vocabulary, decontamination, PII."""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hiero_spark.catalog import load_table
from hiero_spark.functions import pipeline as pl
from tests.conftest import SF_ORACLE


def test_assign_split_fractions_and_determinism(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    out = pl.assign_split(df, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"train": 8000, "val": 1000, "test": 1000}
    # stable across evaluations
    again = {r["split"]: r["n"] for r in pl.assign_split(df, "doc_id").groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == again


def test_hash_split_roughly_unbiased_on_clustered_ids(spark):
    # ids all even — modulo split would put them in a skewed set of buckets,
    # hash split must still land near 80/10/10
    df = spark.range(0, 20_000, 2).withColumnRenamed("id", "doc_id")
    out = pl.hash_split(df, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(counts.values())
    assert abs(counts["train"] / n - 0.8) < 0.03
    assert abs(counts["val"] / n - 0.1) < 0.02
    assert abs(counts["test"] / n - 0.1) < 0.02


def test_token_vocab_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b b"), (2, "B c  a")], "doc_id long, text string"
    )
    got = [(r["token"], r["freq"]) for r in pl.token_vocab(df, "text", k=10).collect()]
    assert got == [("a", 2), ("b", 3)][::-1] + [("c", 1)]


@pytest.fixture
def decontam_frames(spark):
    """(evals, train): eval doc 10 shares the 3-gram 'quick brown fox'
    with the one train doc; eval doc 11 shares nothing."""
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], "doc_id long, text string"
    )
    evals = spark.createDataFrame(
        [
            (10, "a quick brown fox appears"),   # shares 'quick brown fox'
            (11, "totally different words here entirely"),
        ],
        "doc_id long, text string",
    )
    return evals, train


def test_contaminated_docs_exact(decontam_frames):
    evals, train = decontam_frames
    got = {r["doc_id"] for r in pl.contaminated_docs(evals, train, "text", "doc_id").collect()}
    assert got == {10}


@pytest.mark.parametrize("hashed", [False, True])
def test_contaminated_docs_plans_no_bloom_probe(decontam_frames, hashed):
    """In-memory frames report Spark's default plan size (Long.MaxValue);
    the operator is still the plain semi-join, with no Python Bloom
    probe (ArrowEvalPython) in its plan, and both arms find doc 10."""
    from hiero_spark.plans import has_node

    evals, train = decontam_frames
    out = pl.contaminated_docs(evals, train, "text", "doc_id", hashed=hashed)
    assert not has_node(out, "ArrowEvalPython")
    assert {r["doc_id"] for r in out.collect()} == {10}


def test_scrub_pii_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.smith+x@example.co.uk or call +1 (555) 123-4567 now"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pl.scrub_pii(df, "text").collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 1
    assert "<EMAIL>" in rows[1]["clean_text"] and "<PHONE>" in rows[1]["clean_text"]
    assert "@" not in rows[1]["clean_text"]
    assert rows[2]["n_emails"] == 0 and rows[2]["clean_text"] == "no pii here"


def test_scrub_pii_phone_forms_redacted(spark):
    forms = [
        "+1 (555) 123-4567", "555-123-4567", "(555) 123-4567",
        "+44 20 7946 0958", "+15551234567", "555.123.4567",
        "call 555 123 4567 now",
    ]
    df = spark.createDataFrame(list(enumerate(forms)), "doc_id long, text string")
    rows = pl.scrub_pii(df, "text").collect()
    for r in rows:
        assert r["n_phones"] >= 1, r["text"]
        assert "<PHONE>" in r["clean_text"], r["text"]


def test_scrub_pii_leaves_dates_and_ids_alone(spark):
    """Dates and numeric ids are not phones: a bare run of 8+ digits,
    spaces or dashes must not come out as <PHONE>."""
    clean = [
        "released 2026-08-13 and 2026 08 13 ok",
        "eu style 13.08.2026 date",
        "order 123456789 shipped",
        "customer id 9876543210",
        "sequential 12345678 block",
        "ISBN 978-3-16-148410-0",
        "pi is 3.14159265",
        "semver v1.2.3 tagged",
    ]
    df = spark.createDataFrame(list(enumerate(clean)), "doc_id long, text string")
    rows = pl.scrub_pii(df, "text").collect()
    for r in rows:
        assert r["n_phones"] == 0, r["text"]
        assert r["clean_text"] == r["text"], r["text"]


def test_split_is_partition_local_no_shuffle(spark):
    from hiero_spark import plans as P

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = P.plan_str(pl.assign_split(docs, "doc_id"))
    assert "Exchange" not in plan


def test_pack_into_bins_fills_under_budget(spark):
    rows = [(i, 300) for i in range(40)]  # uniform 300-char docs
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = pl.pack_into_bins(df, "doc_id", "n_chars", budget=1000, shards=4).collect()
    by_doc = {r["doc_id"]: (r["shard"], r["bin_id"]) for r in out}
    assert len(by_doc) == 40
    # shard = id % 4; within a shard, docs start at 0,300,600,900,1200,... so
    # bins hold docs starting below each 1000 boundary: 4 docs, then 3, ...
    assert by_doc[0] == (0, 0)
    assert by_doc[12] == (0, 0)   # starts at 900 -> still bin 0 (straddles)
    assert by_doc[16] == (0, 1)   # starts at 1200
    # deterministic: same input -> same assignment
    again = {r["doc_id"]: (r["shard"], r["bin_id"])
             for r in pl.pack_into_bins(df, "doc_id", "n_chars", 1000, 4).collect()}
    assert again == by_doc


def test_pack_into_bins_is_sharded_not_global(spark):
    from hiero_spark import plans as P

    docs = load_table(spark, SF_ORACLE, "documents")
    out = pl.pack_into_bins(docs, "doc_id", "n_chars", budget=2000, shards=8)
    plan = P.plan_str(out)
    # the packing window must partition by shard — a global window would
    # funnel the whole corpus through one task (Exchange SinglePartition)
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_mixture_sample_respects_rates(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    frac = {"en": 0.1, "zh": 1.0, "es": 1.0, "de": 1.0, "fr": 1.0}
    out = pl.mixture_sample(docs, "lang", frac)
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["zh"] == base["zh"] and got["fr"] == base["fr"]  # rate 1.0 keeps all
    assert got["en"] < base["en"] * 0.4  # en heavily down-sampled


def test_chunk_documents_reconstruction(spark):
    """Dropping each chunk's leading overlap and concatenating must rebuild
    the exact token stream; every chunk fits the window; consecutive
    chunks share exactly `overlap` tokens while full."""
    from hiero_spark.functions import pipeline as pl

    texts = [
        (1, " ".join(f"t{i}" for i in range(100))),  # 100 toks -> 4+1 chunks
        (2, " ".join(f"u{i}" for i in range(32))),   # exactly one window
        (3, "a b c"),                                # shorter than overlap
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = pl.chunk_documents(df, "text", "doc_id", chunk_tokens=32, overlap=8)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["chunk_text"].split(" "), r["n_tokens"])
         for r in out.collect())
    )
    by_doc = {}
    for doc, cid, toks, n in rows:
        assert len(toks) == n <= 32
        by_doc.setdefault(doc, []).append((cid, toks))
    for doc, text in texts:
        orig = text.split(" ")
        chunks = [tk for _, tk in sorted(by_doc[doc])]
        rebuilt = list(chunks[0]) + [tok for c in chunks[1:] for tok in c[8:]]
        assert rebuilt == orig, doc
        for a, b in zip(chunks, chunks[1:]):
            assert a[-8:] == b[:8]  # stride-24 windows share the overlap


def test_stratified_sample_exact_quota_and_determinism(spark, sf_dir):
    from hiero_spark.catalog import load_table
    from hiero_spark.functions import pipeline as pl

    docs = load_table(spark, sf_dir, "documents")
    base = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    s1 = pl.stratified_sample(docs, "lang", "doc_id", 10, seed=3)
    got = {r["lang"]: r["n"] for r in
           s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {lang: min(10, n) for lang, n in base.items()}
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in pl.stratified_sample(docs, "lang", "doc_id", 10, seed=3).collect()
    )
    assert ids1 == ids2  # bit-reproducible
    ids_other_seed = sorted(
        r["doc_id"]
        for r in pl.stratified_sample(docs, "lang", "doc_id", 10, seed=4).collect()
    )
    assert ids1 != ids_other_seed  # the seed actually steers the draw


def test_global_shuffle_is_permutation(spark, sf_dir):
    from hiero_spark.catalog import load_table
    from hiero_spark.functions import pipeline as pl

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = pl.global_shuffle(docs, "doc_id", seed=7).collect()
    ids = [r["doc_id"] for r in out]
    assert sorted(ids) == sorted(r["doc_id"] for r in docs.collect())
    assert ids != sorted(ids)  # actually permuted, not id order
    again = [r["doc_id"] for r in pl.global_shuffle(docs, "doc_id", seed=7).collect()]
    assert ids == again


def test_hash_sample_deterministic_uniform_and_nested(spark):
    """functions/sampling.hash_sample: (a) identical kept set across
    re-runs and repartitionings (the reproducible-subset contract),
    (b) fraction lands near its binomial target, (c) same salt + larger
    fraction is a strict superset (threshold monotonicity), (d) a
    different salt draws a different set."""
    from hiero_spark.functions.sampling import hash_sample

    docs = load_table(spark, SF_ORACLE, "documents")
    total = docs.count()
    kept = hash_sample(docs, "doc_id", 0.2, salt="s1")
    ids = sorted(r[0] for r in kept.select("doc_id").collect())
    again = sorted(
        r[0]
        for r in hash_sample(docs.repartition(7), "doc_id", 0.2, salt="s1")
        .select("doc_id")
        .collect()
    )
    assert ids == again
    # binomial 6-sigma band around 0.2
    import math

    sigma = math.sqrt(total * 0.2 * 0.8)
    assert abs(len(ids) - 0.2 * total) <= 6 * sigma + 1
    bigger = set(
        r[0]
        for r in hash_sample(docs, "doc_id", 0.5, salt="s1")
        .select("doc_id")
        .collect()
    )
    assert set(ids) <= bigger
    other = sorted(
        r[0]
        for r in hash_sample(docs, "doc_id", 0.2, salt="s2")
        .select("doc_id")
        .collect()
    )
    assert ids != other


def test_hash_sample_null_keys_dropped_and_bounds(spark):
    from hiero_spark.functions.sampling import hash_sample

    import pytest as _pytest

    df = spark.createDataFrame(
        [(1,), (None,), (2,)], "k long"
    )
    # fraction 1.0 drops null keys like every other fraction (the early
    # return applies the same isNotNull filter, so the contract has no
    # discontinuity at 1.0)
    kept_full = hash_sample(df, "k", 1.0).select("k").collect()
    assert {r[0] for r in kept_full} == {1, 2}
    # any fraction < 1 drops null keys (md5(concat(NULL,..)) is NULL)
    kept = hash_sample(df, "k", 0.999999).select("k").collect()
    assert None not in {r[0] for r in kept} and len(kept) <= 2
    # superset monotonicity holds across the boundary: kept(0.999999)
    # is a subset of kept(1.0)
    lo = {r[0] for r in hash_sample(df, "k", 0.999999).select("k").collect()}
    hi = {r[0] for r in hash_sample(df, "k", 1.0).select("k").collect()}
    assert lo <= hi == {1, 2}
    with _pytest.raises(ValueError):
        hash_sample(df, "k", -0.1)
    with _pytest.raises(ValueError):
        hash_sample(df, "k", 1.5)


def test_hash_sample_arm_agreement_property(spark):
    """For any (fraction pair, salt) hash_sample keeps its contract:
    NULL keys dropped at every fraction INCLUDING the 1.0 boundary,
    superset monotonicity f1<=f2 => kept(f1) subset of kept(f2), and
    kept-set sizes inside the 6-sigma Bernoulli band."""
    import math
    import os

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    from hiero_spark.functions.sampling import hash_sample

    n_real = 2000
    rows = [(i,) for i in range(n_real)] + [(None,)] * 40
    df = spark.createDataFrame(rows, "k long").cache()
    df.count()

    @settings(
        max_examples=int(os.environ.get("HIERO_FUZZ_EXAMPLES", "25")),
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @example(f1=0.999999, f2=1.0, salt="")  # the early-return boundary
    @example(f1=0.0, f2=1.0, salt="s")
    @example(f1=1.0, f2=1.0, salt="x")
    @given(
        f1=st.floats(min_value=0.0, max_value=1.0,
                     allow_nan=False, allow_infinity=False),
        f2=st.floats(min_value=0.0, max_value=1.0,
                     allow_nan=False, allow_infinity=False),
        salt=st.sampled_from(["", "s", "x"]),
    )
    def prop(f1, f2, salt):
        lo, hi = min(f1, f2), max(f1, f2)
        kept_lo = {r[0] for r in hash_sample(df, "k", lo, salt=salt).collect()}
        kept_hi = {r[0] for r in hash_sample(df, "k", hi, salt=salt).collect()}
        assert None not in kept_lo and None not in kept_hi
        assert kept_lo <= kept_hi, (lo, hi, salt)
        for frac, kept in ((lo, kept_lo), (hi, kept_hi)):
            sigma = math.sqrt(n_real * frac * (1.0 - frac))
            assert abs(len(kept) - frac * n_real) <= 6 * sigma + 1, (
                frac, salt, len(kept))

    try:
        prop()
    finally:
        df.unpersist()


def test_hash_sample_grouped_mixture_contract(spark):
    """hash_sample_grouped: per-group content-addressed
    fractions — determinism under repartitioning, per-group 6-sigma
    bands, raising ONE group's fraction grows that group as a strict
    superset WITHOUT disturbing any other group (the property sampleBy
    cannot give), absent/NULL groups fail closed at default=0.0, NULL
    keys drop at every fraction including 1.0."""
    import math

    from hiero_spark.functions.sampling import hash_sample_grouped

    docs = load_table(spark, SF_ORACLE, "documents")
    fr = {"en": 0.1, "fr": 0.35, "zh": 1.0}
    kept = hash_sample_grouped(docs, "doc_id", "lang", fr, salt="mx")
    rows = [(r["doc_id"], r["lang"]) for r in kept.select("doc_id", "lang").collect()]
    again = [
        (r["doc_id"], r["lang"])
        for r in hash_sample_grouped(
            docs.repartition(7), "doc_id", "lang", fr, salt="mx"
        ).select("doc_id", "lang").collect()
    ]
    assert sorted(rows) == sorted(again)
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {}
    for _d, lang in rows:
        got[lang] = got.get(lang, 0) + 1
    # unlisted langs (de, es) fail closed
    assert set(got) <= set(fr)
    for lang, frac in fr.items():
        n, k = base[lang], got.get(lang, 0)
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(k - frac * n) <= 6 * sigma + 1, (lang, k, n)
    assert got["zh"] == base["zh"]  # fraction 1.0 keeps every non-NULL key
    # raising ONE fraction: that group strictly grows, others untouched
    kept2 = hash_sample_grouped(
        docs, "doc_id", "lang", {**fr, "en": 0.5}, salt="mx"
    )
    rows2 = {(r["doc_id"], r["lang"])
             for r in kept2.select("doc_id", "lang").collect()}
    en1 = {d for d, l in rows if l == "en"}
    en2 = {d for d, l in rows2 if l == "en"}
    assert en1 < en2
    assert {p for p in rows if p[1] != "en"} == {p for p in rows2 if p[1] != "en"}
    # NULL key / NULL group handling
    nulls = spark.createDataFrame(
        [(1, "en"), (None, "en"), (2, None), (3, "xx")],
        "k long, g string",
    )
    out = {(r["k"], r["g"]) for r in hash_sample_grouped(
        nulls, "k", "g", {"en": 1.0, "xx": 1.0}
    ).collect()}
    assert out == {(1, "en"), (3, "xx")}, out
    empty = hash_sample_grouped(nulls, "k", "g", {})
    assert empty.count() == 0  # everything at the 0.0 default
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_sample_grouped(nulls, "k", "g", {"en": 1.5})
    with _pytest.raises(ValueError):
        hash_sample_grouped(nulls, "k", "g", {"en": 0.5}, default=-0.1)


def test_kmin_sample_exact_size_monotone_mergeable(spark):
    """kmin_sample: exact size, repartition-invariant,
    k-prefix monotone, MERGEABLE (bottom-k of a union == bottom-k of
    per-shard bottom-k's — the property that makes per-shard sampling +
    k-row merge the 100 TB plan), NULL keys never selected, salt draws
    an independent set."""
    from hiero_spark.functions.sampling import kmin_sample

    docs = load_table(spark, SF_ORACLE, "documents")
    k = 40
    ids = sorted(r["doc_id"] for r in kmin_sample(docs, "doc_id", k, "ks").collect())
    assert len(ids) == k
    again = sorted(
        r["doc_id"]
        for r in kmin_sample(docs.repartition(7), "doc_id", k, "ks").collect()
    )
    assert ids == again
    bigger = sorted(
        r["doc_id"] for r in kmin_sample(docs, "doc_id", k + 25, "ks").collect()
    )
    assert set(ids) < set(bigger)
    # mergeability: split the table, bottom-k each half, merge, bottom-k
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = kmin_sample(
        kmin_sample(a, "doc_id", k, "ks").unionByName(
            kmin_sample(b, "doc_id", k, "ks")
        ),
        "doc_id", k, "ks",
    )
    assert sorted(r["doc_id"] for r in merged.collect()) == ids
    # salt independence + NULL drop + validation
    other = sorted(r["doc_id"] for r in kmin_sample(docs, "doc_id", k, "zz").collect())
    assert other != ids
    nulls = spark.createDataFrame([(1,), (None,), (2,)], "k long")
    got = {r["k"] for r in kmin_sample(nulls, "k", 3).collect()}
    assert got == {1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmin_sample(docs, "doc_id", 0)
    # temp-column collision: a caller whose input
    # already carries '_kmin_h' must get its column back untouched
    clash = spark.createDataFrame(
        [(1, "keep1"), (2, "keep2"), (3, "keep3")], "k long, _kmin_h string"
    )
    out = kmin_sample(clash, "k", 2)
    assert out.columns == ["k", "_kmin_h"]
    vals = {r["k"]: r["_kmin_h"] for r in out.collect()}
    assert len(vals) == 2
    assert all(v.startswith("keep") for v in vals.values())


def test_kmin_sample_grouped_exact_per_group(spark):
    """kmin_sample_grouped: exactly min(k, group size) per
    group, repartition-invariant, per-group prefix-monotone in k,
    NULL keys/groups dropped, salt draws an independent set."""
    from hiero_spark.functions.sampling import kmin_sample, kmin_sample_grouped

    docs = load_table(spark, SF_ORACLE, "documents")
    k = 12
    out = kmin_sample_grouped(docs, "doc_id", "lang", k, "kg")
    sizes = {r["lang"]: r["n"] for r in
             out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {g: min(k, totals[g]) for g in totals}
    ids = sorted(r["doc_id"] for r in out.collect())
    again = sorted(
        r["doc_id"]
        for r in kmin_sample_grouped(
            docs.repartition(7), "doc_id", "lang", k, "kg"
        ).collect()
    )
    assert ids == again
    bigger = sorted(
        r["doc_id"]
        for r in kmin_sample_grouped(docs, "doc_id", "lang", k + 5, "kg")
        .collect()
    )
    assert set(ids) < set(bigger)
    # per-group restriction equals single-group kmin on that slice
    one = docs.filter(F.col("lang") == "en")
    via_grouped = sorted(
        r["doc_id"] for r in out.filter(F.col("lang") == "en").collect()
    )
    via_kmin = sorted(
        r["doc_id"] for r in kmin_sample(one, "doc_id", k, "kg").collect()
    )
    assert via_grouped == via_kmin
    # NULL group and NULL key never selected; salt independence
    nulls = spark.createDataFrame(
        [(1, "a"), (2, "a"), (None, "a"), (3, None)], "k long, g string"
    )
    got = {(r["k"], r["g"]) for r in
           kmin_sample_grouped(nulls, "k", "g", 5).collect()}
    assert got == {(1, "a"), (2, "a")}
    other = sorted(
        r["doc_id"]
        for r in kmin_sample_grouped(docs, "doc_id", "lang", k, "zz").collect()
    )
    assert other != ids
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmin_sample_grouped(docs, "doc_id", "lang", 0)


def test_weighted_kmin_sample_race_properties(spark):
    """weighted_kmin_sample: exact size, repartition-
    invariant, mergeable (bottom-k of per-shard bottom-k's), weight
    dominance (an overwhelming weight is always selected), NULL/zero/
    negative weights never selected, salt independence, temp-column
    collision guard."""
    from hiero_spark.functions.sampling import weighted_kmin_sample

    docs = load_table(spark, SF_ORACLE, "documents")
    k = 30
    ids = sorted(
        r["doc_id"]
        for r in weighted_kmin_sample(docs, "doc_id", "n_chars", k, "ws")
        .collect()
    )
    assert len(ids) == k
    again = sorted(
        r["doc_id"]
        for r in weighted_kmin_sample(
            docs.repartition(7), "doc_id", "n_chars", k, "ws"
        ).collect()
    )
    assert ids == again
    # mergeability: bottom-k(A union B) == bottom-k(bottom-k(A) u bottom-k(B))
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = weighted_kmin_sample(
        weighted_kmin_sample(a, "doc_id", "n_chars", k, "ws").unionByName(
            weighted_kmin_sample(b, "doc_id", "n_chars", k, "ws")
        ),
        "doc_id", "n_chars", k, "ws",
    )
    assert sorted(r["doc_id"] for r in merged.collect()) == ids
    # weight dominance: E = -ln(u)/w -> 0 as w -> inf, so a row whose
    # weight dwarfs the rest always races in
    heavy = docs.withColumn(
        "w", F.when(F.col("doc_id") == 7, F.lit(1e15)).otherwise(F.lit(1.0))
    )
    got = {r["doc_id"]
           for r in weighted_kmin_sample(heavy, "doc_id", "w", 5, "ws")
           .collect()}
    assert 7 in got
    # NULL / zero / negative weights and NULL keys never selected
    rows = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (None, 5.0), (5, 2.0)],
        "k long, w double",
    )
    got = {r["k"] for r in weighted_kmin_sample(rows, "k", "w", 10).collect()}
    assert got == {1, 5}
    # salt independence + validation + collision guard
    other = sorted(
        r["doc_id"]
        for r in weighted_kmin_sample(docs, "doc_id", "n_chars", k, "zz")
        .collect()
    )
    assert other != ids
    import pytest as _pytest

    with _pytest.raises(ValueError):
        weighted_kmin_sample(docs, "doc_id", "n_chars", 0)
    clash = spark.createDataFrame(
        [(1, 1.0, "keep1"), (2, 1.0, "keep2"), (3, 1.0, "keep3")],
        "k long, w double, _wkmin_e string",
    )
    out = weighted_kmin_sample(clash, "k", "w", 2)
    assert out.columns == ["k", "w", "_wkmin_e"]
    assert all(r["_wkmin_e"].startswith("keep") for r in out.collect())


_FUZZ_EXAMPLES = int(__import__("os").environ.get("HIERO_FUZZ_EXAMPLES", "25"))


@settings(max_examples=min(_FUZZ_EXAMPLES, 50), deadline=None,
          suppress_health_check=list(HealthCheck))
@example(salt="ws", k=25)   # the registered query's exact parameters
@example(salt="", k=1)      # boundary: smallest set, empty salt
@given(salt=st.text(alphabet="abcdefgh0123456789", min_size=0, max_size=6),
       k=st.integers(1, 120))
def test_weighted_race_selection_set_engine_parity(spark, duck, salt, k):
    """Differential fuzz of weighted_kmin_sample's hash-verifiability
    claim: for RANDOM salts and k, the selected SET must be
    identical across engines even though the E scores differ in the
    last ulp on ~18% of rows (measured) — the k-th/(k+1)-th boundary
    gap concentrates at relative size ~1/k, so engine libm differences
    can never flip membership.  A failure here would falsify the
    boundary-gap argument the operator's oracle rests on."""
    from hiero_spark.functions.sampling import weighted_kmin_sample

    docs = load_table(spark, SF_ORACLE, "documents")
    got = sorted(
        r["doc_id"]
        for r in weighted_kmin_sample(docs, "doc_id", "n_chars", k, salt)
        .select("doc_id").collect()
    )
    lit = salt.replace("'", "''")
    exp = sorted(r[0] for r in duck.execute(f"""
        SELECT doc_id FROM documents
        WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
        ORDER BY -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                                                || '|{lit}'), 1, 13))
                           AS BIGINT) + 0.5) / 4503599627370496.0)
                 / CAST(n_chars AS DOUBLE) ASC,
                 doc_id ASC
        LIMIT {k}
    """).fetchall())
    assert got == exp, (salt, k)


@settings(max_examples=min(_FUZZ_EXAMPLES, 50), deadline=None,
          suppress_health_check=list(HealthCheck))
@example(salt="kg", k=15)   # the registered query's exact parameters
@given(salt=st.text(alphabet="abcdefgh0123456789", min_size=0, max_size=6),
       k=st.integers(1, 40))
def test_kmin_grouped_selection_set_engine_parity(spark, duck, salt, k):
    """Differential fuzz of kmin_sample_grouped: per-group bottom-k by
    md5 digest must match DuckDB's ROW_NUMBER mirror for random salts
    and k — digests are compared as hex STRINGS (identical in both
    engines), so unlike the weighted race there is no floating-point
    surface at all; any mismatch is a logic bug."""
    from hiero_spark.functions.sampling import kmin_sample_grouped

    docs = load_table(spark, SF_ORACLE, "documents")
    got = sorted(
        (r["lang"], r["doc_id"])
        for r in kmin_sample_grouped(docs, "doc_id", "lang", k, salt)
        .select("lang", "doc_id").collect()
    )
    lit = salt.replace("'", "''")
    exp = sorted((r[0], r[1]) for r in duck.execute(f"""
        SELECT lang, doc_id FROM (
          SELECT lang, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '|{lit}') ASC,
                            doc_id ASC
                 ) AS rn
          FROM documents
          WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        ) WHERE rn <= {k}
    """).fetchall())
    assert got == exp, (salt, k)
