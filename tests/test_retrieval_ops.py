"""BM25 ranking, triangle counting, systematic PPS
sampling — unit-level properties beyond the registry oracles (which pin
cross-engine parity on the documents corpus)."""

import pytest

from hiero_spark.functions.bm25 import bm25_topk
from hiero_spark.functions.graph import triangle_count
from hiero_spark.functions.sampling import systematic_pps_sample
from hiero_spark.functions.setsim import jaccard_join
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_matches_hand_computation(spark):
    # 3 docs, query = ('cat',): df=2, N=3, dl = 3/3/2, avgdl = 8/3
    docs = _docs(
        spark,
        [
            (0, "cat cat dog"),     # tf=2
            (1, "cat bird fish"),   # tf=1
            (2, "dog dog"),         # tf=0 -> absent from result
        ],
    )
    out = {r["doc_id"]: r for r in bm25_topk(docs, ["cat"], k=10).collect()}
    assert set(out) == {0, 1}
    k1, b, avgdl = 1.2, 0.75, 8 / 3
    idf = (3 - 2 + 0.5) / (2 + 0.5)
    exp = {
        0: idf * (2 * (k1 + 1.0)) / (2 + k1 * (1.0 - b + b * 3 / avgdl)),
        1: idf * (1 * (k1 + 1.0)) / (1 + k1 * (1.0 - b + b * 3 / avgdl)),
    }
    for d in (0, 1):
        assert out[d]["bm25"] == pytest.approx(exp[d], abs=1e-6)
        assert out[d]["n_terms"] == 1
    # higher tf at equal length ranks first
    ids = [r["doc_id"] for r in bm25_topk(docs, ["cat"], k=10).collect()]
    assert ids == [0, 1]


def test_bm25_rewards_term_coverage(spark):
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma delta"),  # matches all 3 query terms
            (1, "alpha alpha alpha quux"),  # hammers one term
            (2, "unrelated text here now"),
        ],
    )
    top = bm25_topk(docs, ["alpha", "beta", "gamma"], k=2).collect()
    assert top[0]["doc_id"] == 0 and top[0]["n_terms"] == 3
    assert top[1]["doc_id"] == 1 and top[1]["n_terms"] == 1


def test_bm25_query_terms_case_folded(spark, tmp_path):
    """A mixed-case query ('Alpha') must rank like the
    lowercase one, in both the full-scan and the indexed probe."""
    from hiero_spark.functions.bm25 import bm25_topk_indexed, save_text_index

    docs = _docs(spark, [(0, "alpha beta"), (1, "beta gamma"), (2, "alpha")])
    lo = sorted(tuple(r) for r in bm25_topk(docs, ["alpha"], k=5).collect())
    hi = sorted(tuple(r) for r in bm25_topk(docs, ["Alpha"], k=5).collect())
    assert lo == hi and len(lo) == 2
    path = str(tmp_path / "idx")
    save_text_index(docs, path, n_buckets=8)
    probed = sorted(
        tuple(r)
        for r in bm25_topk_indexed(spark, path, ["ALPHA"], k=5, n_buckets=8).collect()
    )
    assert probed == lo


def test_bm25_indexed_empty_query_is_empty_frame(spark, tmp_path):
    """No query terms: an empty result with the schema of a real probe,
    not an IndexError from the empty setup collect."""
    from hiero_spark.functions.bm25 import bm25_topk_indexed, save_text_index

    docs = _docs(spark, [(0, "alpha beta"), (1, "beta gamma")])
    path = str(tmp_path / "idx")
    save_text_index(docs, path, n_buckets=8)
    empty = bm25_topk_indexed(spark, path, [], k=5, n_buckets=8)
    probe = bm25_topk_indexed(spark, path, ["beta"], k=5, n_buckets=8)
    assert empty.schema == probe.schema
    assert empty.collect() == []


def test_triangle_count_known_graphs(spark):
    # K4 has 4 triangles; a pendant edge adds none. Edges given directed,
    # with a duplicate and a reversed copy — canonicalization must dedup.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(1, 0), (2, 1), (3, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 7  # 6 of K4 + pendant
    assert row["n_triangles"] == 4


def test_triangle_count_triangle_free(spark):
    # 4-cycle: no triangles
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    assert triangle_count(df).collect()[0]["n_triangles"] == 0


def test_pps_sample_exact_k_and_multiplicity(spark):
    # one row carries half the mass: with k=10 it must be drawn ~5 times,
    # and total draws are EXACTLY k (the property binomial samplers lack)
    rows = [(i, 10) for i in range(10)] + [(99, 100)]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    out = systematic_pps_sample(df, k=10, weight_col="wt", order_col="doc_id")
    got = {r["doc_id"]: r["n_sel"] for r in out.collect()}
    assert sum(got.values()) == 10
    assert got[99] == 5  # 100/200 of the mass at k=10
    assert all(n >= 1 for n in got.values())


def test_pps_sample_partitioning_invariant(spark):
    # the sample is a pure function of (weights, order), not of layout:
    # 1-partition and 8-partition runs must agree row for row
    rows = [(i, (i * 37) % 91 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    a = sorted(
        tuple(r)
        for r in systematic_pps_sample(
            df, k=25, weight_col="wt", order_col="doc_id", n_parts=1
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in systematic_pps_sample(
            df.repartition(13), k=25, weight_col="wt", order_col="doc_id",
            n_parts=8,
        ).collect()
    )
    assert a == b
    assert sum(n for _, _, n in a) == 25


def test_pps_sample_proportionality(spark):
    # long-run: selection counts track weight shares within rounding
    rows = [(i, w) for i, w in enumerate([1, 1, 1, 1, 1, 5, 10, 30])]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    out = {
        r["doc_id"]: r["n_sel"]
        for r in systematic_pps_sample(
            df, k=50, weight_col="wt", order_col="doc_id"
        ).collect()
    }
    total = 50
    # weight 30/50 of mass -> 30 draws; 10/50 -> 10; 5/50 -> 5
    assert out[7] == 30 and out[6] == 10 and out[5] == 5
    assert sum(out.values()) == total


def test_bm25_index_probe_matches_full_scan_and_prunes(spark, tmp_path):
    from hiero_spark import plans as P
    from hiero_spark.functions.bm25 import bm25_topk_indexed, save_text_index
    from hiero_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    save_text_index(docs, path)
    terms = ["spark", "join", "window", "stream"]
    probe = bm25_topk_indexed(spark, path, terms, k=10)
    full = bm25_topk(docs, terms, k=10)
    assert [tuple(r) for r in probe.collect()] == [tuple(r) for r in full.collect()]
    # the probe's postings scan must be partition-pruned to the query's
    # term buckets — the whole point of the index layout
    assert P.partition_filters(probe), "postings scan is not partition-pruned"


def test_jaccard_join_equals_brute_force(spark):
    # prefix filtering is a COMPLETENESS claim — check it against the
    # all-pairs ground truth on a corpus with planted near-dups
    import itertools

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = {
        0: base,
        1: base + " kilo",                      # near-dup of 0
        2: base.replace("delta", "xray"),       # moderately similar to 0
        3: "one two three four five six seven eight nine ten",
        4: "one two three four five six seven eight nine ten",  # exact dup of 3
        5: "completely different words here with nothing shared at all okay",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_join(docs, threshold=0.5, k=3).collect()
    )

    def shingles(s):
        ws = s.split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    exp = []
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            exp.append((a, b, round(j, 6)))
    assert got == sorted(exp)
    assert (3, 4, 1.0) in got  # the exact dup survives at jaccard 1.0


def test_interval_concurrency_half_open_and_nesting(spark):
    from hiero_spark.operators.temporal import interval_concurrency

    rows = [
        # key "a": [0,10) [10,20) touch at 10 -> never concurrent (max 1)
        ("a", 1, 0, 10),
        ("a", 2, 10, 20),
        # key "b": nested + overlapping -> 3 concurrent in [4,5)
        ("b", 3, 0, 10),
        ("b", 4, 2, 8),
        ("b", 5, 4, 5),
        ("b", 6, 20, 30),
    ]
    df = spark.createDataFrame(rows, "k string, id long, s long, e long")
    out = {
        r["k"]: (r["max_concurrent"], r["n_intervals"])
        for r in interval_concurrency(df, "k", "s", "e", "id").collect()
    }
    assert out == {"a": (1, 2), "b": (3, 4)}


def test_phrase_count_indexed_cases(spark, tmp_path):
    from hiero_spark.functions.bm25 import phrase_count_indexed, save_text_index

    docs = spark.createDataFrame(
        [
            (0, "data data data science"),   # "data data" occurs at 1 and 2
            (1, "big data lake"),            # no adjacent repeat
            (2, "the data data pipeline"),   # one occurrence
            (3, "big data big data big"),    # "big data" twice
            (4, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tix")
    save_text_index(docs, path)
    rep = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_count_indexed(spark, path, ["data", "data"]).collect()
    }
    assert rep == {0: 2, 2: 1}
    two = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_count_indexed(spark, path, ["big", "data"]).collect()
    }
    assert two == {1: 1, 3: 2}
    single = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_count_indexed(spark, path, ["data"]).collect()
    }
    assert single == {0: 3, 1: 1, 2: 2, 3: 2}
    three = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_count_indexed(
            spark, path, ["big", "data", "big"]
        ).collect()
    }
    # occurrences may OVERLAP: starts 1 and 3 in "big data big data big"
    assert three == {3: 2}


def test_incremental_index_update_equals_rebuild(spark, tmp_path):
    # build on day-1 docs, append day-2 docs: BM25 ranking and phrase
    # counts must equal a from-scratch index over the union (df/idf are
    # probe-time computations, so appends update ranking exactly)
    from hiero_spark.functions.bm25 import (
        bm25_topk_indexed,
        phrase_count_indexed,
        save_text_index,
        update_text_index,
    )
    from hiero_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1 = docs.filter("doc_id % 2 = 0")
    day2 = docs.filter("doc_id % 2 = 1")
    inc_path = str(tmp_path / "inc")
    full_path = str(tmp_path / "full")
    save_text_index(day1, inc_path)
    update_text_index(spark, inc_path, day2)
    save_text_index(docs, full_path)
    terms = ["spark", "join", "window", "stream"]
    a = [tuple(r) for r in bm25_topk_indexed(spark, inc_path, terms, k=10).collect()]
    b = [tuple(r) for r in bm25_topk_indexed(spark, full_path, terms, k=10).collect()]
    assert a == b and len(a) == 10
    pa = sorted(
        tuple(r) for r in phrase_count_indexed(spark, inc_path, ["data", "data"]).collect()
    )
    pb = sorted(
        tuple(r) for r in phrase_count_indexed(spark, full_path, ["data", "data"]).collect()
    )
    assert pa == pb and len(pa) > 0


def test_rolling_distinct_hand_built(spark):
    from hiero_spark.operators.temporal import rolling_distinct

    H = 3600
    rows = [
        # key "a": user 1 at hour 0 (twice), user 2 at hour 1
        ("a", 0 * H + 10, 1),
        ("a", 0 * H + 20, 1),
        ("a", 1 * H + 5, 2),
        # key "b": user 9 at hour 30 only
        ("b", 30 * H, 9),
    ]
    df = spark.createDataFrame(rows, "k string, sec long, u long").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "u"
    )
    out = {
        (r["k"], r["bucket_ts"]): r["n_distinct"]
        for r in rolling_distinct(df, "k", "ts", "u", window_hours=3).collect()
    }
    # "a": bucket 0 sees {1}; buckets 1,2 see {1,2}; bucket 3 sees {2}
    assert out[("a", 0)] == 1
    assert out[("a", 1 * H)] == 2 and out[("a", 2 * H)] == 2
    assert out[("a", 3 * H)] == 1
    assert ("a", 4 * H) not in out  # window closed
    assert out[("b", 30 * H)] == 1 and out[("b", 32 * H)] == 1
    assert len([1 for (k, _) in out if k == "b"]) == 3


def test_centroid_outliers_planted(spark):
    from hiero_spark.functions.similarity import centroid_outliers

    # 20 vectors near the origin, one planted far away in each group
    rows = []
    for i in range(20):
        v = [0.001 * (i % 3), -0.001 * (i % 5), 0.0005 * i, 0.0]
        if i in (3, 6):  # planted outliers (groups 3 and 2 of i % 4... )
            v = [0.4, -0.4, 0.4, -0.4]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = centroid_outliers(df, n_groups=4, k=1)
    top = {r["grp"]: r["vec_id"] for r in out.collect()}
    assert top[3 % 4] == 3 and top[6 % 4] == 6
    # determinism: identical across partitionings
    a = sorted(tuple(r) for r in centroid_outliers(df, 4, 3).collect())
    b = sorted(tuple(r) for r in centroid_outliers(df.repartition(7), 4, 3).collect())
    assert a == b


def test_jaccard_join_hashed_equals_string_arm(spark):
    from hiero_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    )
    s_arm = sorted(
        tuple(r) for r in jaccard_join(docs, threshold=0.8, k=3).collect()
    )
    h_arm = sorted(
        tuple(r)
        for r in jaccard_join(docs, threshold=0.8, k=3, hashed=True).collect()
    )
    assert s_arm == h_arm and len(s_arm) > 0


def test_prefix_pruned_read_skips_files(spark, tmp_path):
    from hiero_spark.sources.layout import prune_files, read_prefix_pruned

    rows = [(i, "src%d" % (i % 8), i * 10) for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    path = str(tmp_path / "by_source")
    (
        df.repartitionByRange(8, "source")
        .sortWithinPartitions("source")
        .write.parquet(path)
    )
    kept, total = prune_files(path, {"source": ("src3", "src3￿")})
    assert total == 8 and len(kept) < total  # footer stats really skipped
    out = read_prefix_pruned(spark, path, "source", "src3")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [i for i in range(800) if i % 8 == 3]
    # no-survivor prefix yields an empty frame with the right schema
    empty = read_prefix_pruned(spark, path, "source", "zzz")
    assert empty.count() == 0 and empty.columns == ["doc_id", "source", "n"]


def test_prefix_pruned_keeps_rows_above_uffff(spark, tmp_path):
    """prefix+U+FFFF as the upper bound loses
    matching rows that sort ABOVE the sentinel — 'app\\uffffx' and a
    supplementary-plane char like U+1F600 both compare greater than
    U+FFFF.  The successor bound must keep them."""
    from hiero_spark.sources.layout import _prefix_successor, read_prefix_pruned

    rows = [
        (1, "app"),
        (2, "apple"),
        (3, "app￿"),
        (4, "app￿more"),      # sorts above 'app￿'
        (5, "app\U0001F600"),       # supplementary plane > U+FFFF
        (6, "apq"),                 # NOT a match; == successor's start
        (7, "aqz"),
        (8, "banana"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    path = str(tmp_path / "nasty")
    # one file per row so footer pruning decides per-row fate
    df.repartition(8, "doc_id").write.parquet(path)
    out = read_prefix_pruned(spark, path, "s", "app")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 4, 5]
    # successor arithmetic: carry on overflow, None at the top
    assert _prefix_successor("app") == "apq"
    assert _prefix_successor("ap\U0010FFFF") == "aq"
    assert _prefix_successor("\U0010FFFF") is None
    everything = read_prefix_pruned(spark, path, "s", "")
    assert everything.count() == 8


def test_quantile_state_fold_equals_recompute(spark):
    from hiero_spark.functions.incremental import (
        merge_quantile_state, quantile_state, quantiles_from_state,
    )

    rows = [("k%d" % (i % 2), i, (i * 137) % 100000 + 1) for i in range(4000)]
    df = spark.createDataFrame(rows, "k string, id long, cents long")
    # fold of 4 disjoint batches must equal the single-pass state exactly
    state = None
    for b in range(4):
        bs = quantile_state(df.filter(F.col("id") % 4 == b), "k", "cents", width=500)
        state = bs if state is None else merge_quantile_state(state, bs)
    full = quantile_state(df, "k", "cents", width=500)
    a = sorted(tuple(r) for r in state.collect())
    b_ = sorted(tuple(r) for r in full.collect())
    assert a == b_
    # probed quantile is within one bucket width of the exact quantile
    q = {r["key"]: r for r in quantiles_from_state(state, (0.5,), width=500).collect()}
    import statistics

    for key in ("k0", "k1"):
        vals = sorted(c for kk, _, c in rows if kk == key)
        exact = vals[-(-len(vals) // 2) - 1]  # ceil(n/2)-th value, 1-indexed
        lo = q[key]["p50_cents_lo"]
        assert lo <= exact < lo + 500


def test_pps_sample_zero_and_negative_weights(spark):
    """A zero total weight must not reach the SQL as a division by zero,
    and negative weights would break the cumulative line: empty sample
    for zero totals, ValueError for negatives."""
    import pytest as _pytest

    from hiero_spark.functions.sampling import systematic_pps_sample

    zero = spark.createDataFrame(
        [(i, 0) for i in range(5)], "doc_id long, wt long"
    )
    out = systematic_pps_sample(zero, k=3, weight_col="wt", order_col="doc_id")
    assert out.count() == 0 and out.columns == ["doc_id", "wt", "n_sel"]
    empty = zero.limit(0)
    assert systematic_pps_sample(
        empty, k=3, weight_col="wt", order_col="doc_id"
    ).count() == 0
    neg = spark.createDataFrame([(1, 5), (2, -1)], "doc_id long, wt long")
    with _pytest.raises(ValueError, match="nonnegative"):
        systematic_pps_sample(neg, k=2, weight_col="wt", order_col="doc_id")


def test_quantile_state_floor_buckets_negative_cents(spark):
    """Bucketing must use FLOOR semantics so negative
    cents (refunds) land in the bucket whose lower bound is below them —
    truncation would fold (-width, width) into one mislabeled bucket 0.
    Checked against Python's floor division, and the probe's lower-bound
    contract is verified on an all-negative key."""
    from hiero_spark.functions.incremental import (
        quantile_state, quantiles_from_state,
    )

    cents = [-250_001, -250_000, -1, 0, 1, 249_999, 250_000]
    df = spark.createDataFrame(
        [("r", i, c) for i, c in enumerate(cents)], "k string, id long, cents long"
    )
    got = {
        (r["bucket"]): r["cnt"]
        for r in quantile_state(df, "k", "cents", width=100_000).collect()
    }
    import collections

    want = collections.Counter(c // 100_000 for c in cents)
    assert got == dict(want), (got, want)
    neg = df.filter(F.col("cents") < 0)
    q = quantiles_from_state(
        quantile_state(neg, "k", "cents", width=100_000), (0.5,), width=100_000
    ).collect()[0]
    exact_p50 = sorted(c for c in cents if c < 0)[1]  # ceil(0.5*3)=2nd value
    assert q["p50_cents_lo"] <= exact_p50 < q["p50_cents_lo"] + 100_000


def test_quantile_oracle_floor_matches_duckdb(spark):
    """The s17 oracle's (x - nonneg_mod) // w construction must equal
    Python floor division in DuckDB — pinning the dialect fact that
    DuckDB integer // truncates toward zero (NOT floor), so the
    explicit-mod form is required."""
    import duckdb

    vals = [-250_001, -250_000, -199_999, -1, 0, 1, 99_999, 100_000, 250_000]
    rows = duckdb.sql(
        "SELECT x, (x - ((x % 100000 + 100000) % 100000)) // 100000 AS b "
        f"FROM (VALUES {','.join(f'({v}::BIGINT)' for v in vals)}) t(x)"
    ).fetchall()
    assert {x: b for x, b in rows} == {v: v // 100_000 for v in vals}


def test_grouped_pps_exact_k_per_group(spark):
    from hiero_spark.functions.sampling import systematic_pps_sample_grouped

    rows = []
    for g in ("a", "b", "c"):
        for i in range(40):
            rows.append((g, i, (i * 13) % 50 + 1))
    rows.append(("z", 0, 0))  # zero-weight group: contributes nothing
    df = spark.createDataFrame(rows, "g string, doc_id long, wt long")
    out = systematic_pps_sample_grouped(
        df, k_per_group=7, group_col="g", weight_col="wt", order_col="doc_id"
    )
    per_group = {}
    for r in out.collect():
        per_group[r["g"]] = per_group.get(r["g"], 0) + r["n_sel"]
    assert per_group == {"a": 7, "b": 7, "c": 7}  # exactly k each, no 'z'


def test_containment_join_equals_brute_force(spark):
    # asymmetric prefix filtering is a COMPLETENESS claim: check against
    # the all-ordered-pairs ground truth, including the snippet-in-page
    # case Jaccard misses
    from hiero_spark.functions.setsim import containment_join

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    page = base + " kilo lima mike november oscar papa quebec romeo sierra tango"
    texts = {
        0: base,            # fully contained in 1 (containment 1.0 -> 1)
        1: page,
        2: base.replace("delta", "xray"),
        3: "one two three four five six seven",
        4: "one two three four five six seven",  # mutual containment with 3
        5: "totally different words appear here and nothing else matches",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_join(docs, threshold=0.7, k=3).collect()
    )

    def shingles(s):
        ws = s.split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    exp = sorted(
        (a, b, round(len(shingles(ta) & shingles(tb)) / len(shingles(ta)), 6))
        for a, ta in texts.items()
        for b, tb in texts.items()
        if a != b
        and len(shingles(ta) & shingles(tb)) / len(shingles(ta)) >= 0.7
    )
    assert got == exp
    assert (0, 1, 1.0) in got       # snippet-in-page: the Jaccard blind spot
    assert (1, 0, 1.0) not in got   # page is NOT contained in the snippet
    assert (3, 4, 1.0) in got and (4, 3, 1.0) in got  # dup: both directions


def test_containment_candidates_bounded_under_duplication(spark):
    """The skew-stress bound at test scale: candidate GROUP pairs are per
    distinct set (quote-group -> each quoting page), not per copy."""
    from hiero_spark.functions.setsim import containment_candidates
    from hiero_spark.sources.readers import synthetic_containment_corpus

    docs = synthetic_containment_corpus(
        spark, n=200, pages=20, quotes=50, doc_len=12, snip_len=6
    )
    cands = containment_candidates(docs, threshold=0.9, k=3).count()
    # uncollapsed this would be ~quotes * (pages + quotes - 1) = 3450
    assert cands <= 25


def test_jaccard_join_group_arm_matches_expanded(spark):
    """expand_identical=False (the extreme-duplication scale arm) must be
    the exact group-level compression of the member-level contract: a
    duplicate group's self-row stands for its intra-group clique, and
    count_a * count_b reproduces every cross-group pair multiplicity."""
    from hiero_spark.functions.setsim import jaccard_join
    from hiero_spark.sources.readers import synthetic_verbatim_corpus

    # ids [0, 6) verbatim copies of one doc; rest hash-unique.  Drop in
    # one near-dup of the hot doc so a CROSS-group pair exercises the
    # count_a * count_b expansion too.
    docs = synthetic_verbatim_corpus(spark, n=40, copies=6, doc_len=12)
    near = docs.filter("doc_id = 0").selectExpr(
        "CAST(100 AS BIGINT) AS doc_id",
        "concat(text, ' extraword') AS text",
    )
    docs = docs.unionByName(near)
    expanded = sorted(
        tuple(r) for r in jaccard_join(docs, threshold=0.7, k=3).collect()
    )
    groups = jaccard_join(
        docs, threshold=0.7, k=3, expand_identical=False
    ).collect()
    members = {0: list(range(6))}
    rebuilt = []
    for r in groups:
        if r["id_a"] == r["id_b"]:
            ms = members.get(r["id_a"], [r["id_a"]])
            assert r["count_a"] == len(ms) and r["count_b"] == len(ms)
            for a in ms:
                for b in ms:
                    if a < b:
                        rebuilt.append(
                            (a, b, r["n_common"], r["n_union"], r["jaccard"])
                        )
        else:
            ms_a = members.get(r["id_a"], [r["id_a"]])
            ms_b = members.get(r["id_b"], [r["id_b"]])
            assert r["count_a"] == len(ms_a) and r["count_b"] == len(ms_b)
            for a in ms_a:
                for b in ms_b:
                    rebuilt.append(
                        (min(a, b), max(a, b),
                         r["n_common"], r["n_union"], r["jaccard"])
                    )
    assert sorted(rebuilt) == expanded
    self_rows = [r for r in groups if r["id_a"] == r["id_b"]]
    assert len(self_rows) == 1 and self_rows[0]["count_a"] == 6
    assert self_rows[0]["jaccard"] == 1.0
    cross = [r for r in groups if r["id_a"] != r["id_b"]]
    assert len(cross) == 1 and cross[0]["count_a"] * cross[0]["count_b"] == 6


def test_jaccard_candidates_bounded_under_duplication(spark):
    """g verbatim copies would pass the PPJoin length filter verbatim
    and generate g^2/2 candidate pairs.  Collapsed, the hot group is ONE distinct set — candidates
    are per distinct-set pair, zero for a corpus whose only structural
    relationship is the intra-group clique."""
    from hiero_spark.functions.setsim import jaccard_candidates, jaccard_join
    from hiero_spark.sources.readers import synthetic_verbatim_corpus

    docs = synthetic_verbatim_corpus(spark, n=300, copies=100, doc_len=12)
    # uncollapsed: 100*99/2 = 4950 candidates from the hot group alone
    cands = jaccard_candidates(docs, threshold=0.8, k=3).count()
    assert cands <= 5
    # ...while the member-level OUTPUT contract still delivers the clique
    out = jaccard_join(docs, threshold=0.8, k=3)
    clique = out.filter("jaccard = 1.0").count()
    assert clique == 100 * 99 // 2


def test_operator_caches_are_tracked_and_releasable(spark):
    """jaccard/containment/minhash persist internal
    multi-consumer frames; a long-lived driver must be able to release
    them.  Every such persist registers in functions/_cachetrack; after
    release_caches() the tracker is empty and the frames are gone."""
    from hiero_spark.functions import _cachetrack as ct
    from hiero_spark.functions.dedup import minhash_near_dups
    from hiero_spark.functions.setsim import jaccard_join, release_caches
    from hiero_spark.sources.readers import synthetic_verbatim_corpus

    ct.release_caches()  # clean slate
    docs = synthetic_verbatim_corpus(spark, n=50, copies=4, doc_len=12)
    jaccard_join(docs, threshold=0.8, k=3).count()
    minhash_near_dups(docs, "text", "doc_id").count()
    assert len(ct._LIVE) >= 3  # sized + minhash docs + pairs
    released = release_caches()  # setsim re-export drains the SHARED list
    assert released >= 3 and not ct._LIVE
    # repeated release is a no-op, and operators still work afterwards
    assert ct.release_caches() == 0
    assert jaccard_join(docs, threshold=0.8, k=3).count() >= 6
    ct.release_caches()


def test_grouped_pps_distributed_prefix_matches_plain_window(spark):
    """The two-phase (group, partition)-offset prefix sum must reproduce
    the plain per-group cumulative window exactly — including groups
    whose ordered runs span several range partitions, and the
    high-cardinality fallback path (max_driver_rows=0 forces it)."""
    from hiero_spark.functions.sampling import systematic_pps_sample_grouped

    rows = [
        (("s1", "s2", "s3")[i % 3], i, (i * 13) % 29 + 1)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, n long")
    fast = sorted(
        tuple(r)
        for r in systematic_pps_sample_grouped(
            df, 7, "src", "n", "doc_id", n_parts=5
        ).collect()
    )
    plain = sorted(
        tuple(r)
        for r in systematic_pps_sample_grouped(
            df, 7, "src", "n", "doc_id", n_parts=5, max_driver_rows=0
        ).collect()
    )
    assert fast == plain
    # exactness: every group lands exactly k draws
    from collections import Counter

    per_group = Counter()
    for src, _id, _n, n_sel in fast:
        per_group[src] += n_sel
    assert per_group == {"s1": 7, "s2": 7, "s3": 7}


def test_grouped_pps_null_group_key_is_a_stratum(spark):
    """A NULL group key is a real stratum: the two-phase offset plan must
    keep it (eqNullSafe join), matching the plain-window fallback — a
    null-unsafe equi-join would silently drop every null-group row on
    the fast path only."""
    from collections import Counter

    from hiero_spark.functions.sampling import systematic_pps_sample_grouped

    rows = [
        ((None, "s1", "s2")[i % 3], i, (i * 7) % 19 + 1)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, n long")
    nskey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    fast = sorted(
        (
            tuple(r)
            for r in systematic_pps_sample_grouped(
                df, 5, "src", "n", "doc_id", n_parts=4
            ).collect()
        ),
        key=nskey,
    )
    plain = sorted(
        (
            tuple(r)
            for r in systematic_pps_sample_grouped(
                df, 5, "src", "n", "doc_id", n_parts=4, max_driver_rows=0
            ).collect()
        ),
        key=nskey,
    )
    assert fast == plain
    per_group = Counter()
    for src, _id, _n, n_sel in fast:
        per_group[src] += n_sel
    assert per_group == {None: 5, "s1": 5, "s2": 5}
