"""Bloom-sidecar file skipping: equality lookups bounded by per-file-group
bitmaps on ANY layout (the complement of footer-stats range/prefix
pruning, which needs sorted layouts)."""

import pytest
from pyspark.sql import functions as F

from hiero_spark.sources import layout as L


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bloomtbl") / "t")
    df = spark.range(2000).selectExpr("id", "CONCAT('key_', id) AS k", "id * 3 AS val")
    sidecar = L.save_bloom_indexed(spark, df, path, "k", n_files=16)
    return path, sidecar


def test_point_lookup_correct_and_pruned(spark, bloom_table):
    path, sc = bloom_table
    out = L.read_bloom_pruned_many(spark, path, ["key_1234"])
    rows = out.collect()
    assert [(r.id, r.val) for r in rows] == [(1234, 3702)]
    # I/O bound: the scan planned a strict subset of the 16 file groups
    groups = {f.split("_grp=")[1].split("/")[0] for f in out.inputFiles()}
    assert len(groups) < 16


def test_no_false_negatives_sampled(spark, bloom_table):
    path, _ = bloom_table
    for i in range(0, 2000, 97):
        assert L.read_bloom_pruned_many(spark, path, [f"key_{i}"]).count() == 1


def test_absent_key_yields_empty(spark, bloom_table):
    path, _ = bloom_table
    assert L.read_bloom_pruned_many(spark, path, ["nope_xyz"]).count() == 0


def test_sidecar_is_sparse_and_typed(bloom_table):
    _, sc = bloom_table
    assert sc["n_files"] == 16 and sc["key_col"] == "k"
    # 2000 keys x 3 hashes over 16 groups x 1024 words: far from dense
    total_words = sum(len(v) for v in sc["blooms"].values())
    assert 0 < total_words < 16 * 1024


def test_delete_rewrites_only_touched_groups(spark, tmp_path):
    import os

    path = str(tmp_path / "deltbl")
    df = spark.range(500).selectExpr("id", "id * 2 AS v")
    L.save_bloom_indexed(spark, df, path, "id", n_files=8)
    mtimes = {
        g: os.path.getmtime(os.path.join(path, g))
        for g in os.listdir(path) if g.startswith("_grp=")
    }
    import time as _t
    _t.sleep(1.1)
    stats = L.delete_bloom_keys(spark, path, [7, 123])
    assert stats["rows_deleted"] == 2
    assert 1 <= stats["groups_rewritten"] <= 2
    after = {
        g: os.path.getmtime(os.path.join(path, g))
        for g in os.listdir(path) if g.startswith("_grp=")
    }
    untouched = [g for g in mtimes if after[g] == mtimes[g]]
    assert len(untouched) >= 8 - stats["groups_rewritten"]
    # deleted keys gone, everything else intact
    assert L.read_bloom_pruned_many(spark, path, [7]).count() == 0
    assert L.read_bloom_pruned_many(spark, path, [8]).collect()[0].v == 16
    assert spark.read.parquet(path).count() == 498


def test_batched_probe_equals_union_of_single_probes(spark, bloom_table):
    """read_bloom_pruned_many (s22 verifies its 3 forget-me ids with ONE
    position job + ONE pruned scan) must return exactly the rows a
    full-scan `isin` filter returns — including a never-stored probe
    contributing nothing — and still plan a pruned scan."""
    path, _ = bloom_table
    probes = ["key_3", "key_1234", "nope_xyz"]
    full_scan = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .filter(F.col("k").isin(probes))
        .drop("_grp")
        .collect()
    )
    many_df = L.read_bloom_pruned_many(spark, path, probes)
    many = sorted(tuple(r) for r in many_df.collect())
    assert many == full_scan and len(many) == 2
    groups = {f.split("_grp=")[1].split("/")[0] for f in many_df.inputFiles()}
    assert len(groups) < 16  # still a pruned read, not a full scan


def test_replayed_delete_batch_rewrites_nothing(spark, tmp_path):
    """A forget-me batch REPLAYED against the layout must be
    short-circuited entirely by the rebuilt bitmaps — zero groups
    rewritten, zero rows deleted, bytes untouched."""
    import os
    import time as _t

    path = str(tmp_path / "deltbl_replay")
    df = spark.range(400).selectExpr("id", "id * 5 AS v")
    L.save_bloom_indexed(spark, df, path, "id", n_files=8)
    first = L.delete_bloom_keys(spark, path, [7, 123, 321])
    assert first["rows_deleted"] == 3
    mtimes = {
        g: os.path.getmtime(os.path.join(path, g))
        for g in os.listdir(path) if g.startswith("_grp=")
    }
    _t.sleep(1.1)
    replay = L.delete_bloom_keys(spark, path, [7, 123, 321])
    assert replay["groups_rewritten"] == 0
    assert replay["rows_deleted"] == 0
    assert replay["keys_skipped_by_bloom"] == 3
    after = {
        g: os.path.getmtime(os.path.join(path, g))
        for g in os.listdir(path) if g.startswith("_grp=")
    }
    assert after == mtimes  # no directory's bytes moved
    assert spark.read.parquet(path).count() == 397


def test_absent_keys_rewrite_nothing(spark, tmp_path):
    path = str(tmp_path / "deltbl2")
    df = spark.range(100).selectExpr("id", "id AS v")
    L.save_bloom_indexed(spark, df, path, "id", n_files=8)
    stats = L.delete_bloom_keys(spark, path, [100000, 200000, 300000])
    assert stats["groups_rewritten"] == 0
    assert stats["keys_skipped_by_bloom"] >= 1  # bloom fp may admit some
    assert spark.read.parquet(path).count() == 100


def test_deleted_group_bitmap_rebuilt(spark, tmp_path):
    # after deleting, the rebuilt bitmap must NOT claim the dead key
    # in most cases (bloom fp aside) and must still find all survivors
    path = str(tmp_path / "deltbl3")
    df = spark.range(200).selectExpr("id", "id AS v")
    L.save_bloom_indexed(spark, df, path, "id", n_files=4)
    L.delete_bloom_keys(spark, path, list(range(0, 200, 2)))  # evens die
    for k in (1, 51, 199):
        assert L.read_bloom_pruned_many(spark, path, [k]).count() == 1
    for k in (0, 50, 198):
        assert L.read_bloom_pruned_many(spark, path, [k]).count() == 0
