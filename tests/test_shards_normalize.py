"""Training-shard export + unicode normalization unit tests."""

import glob

from pyspark.sql import functions as F

from hiero_spark.functions.normalize import normalize_text
from hiero_spark.sources.layout import export_training_shards


def test_shards_reproducible_and_complete(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], ["doc_id", "text"]
    )
    m1 = export_training_shards(df, str(tmp_path / "a"), "doc_id", n_shards=4)
    rows1 = {r["shard"]: r["n_rows"] for r in m1.collect()}
    assert sum(rows1.values()) == 200  # nothing lost or duplicated
    assert set(rows1) == {0, 1, 2, 3}
    # a dense id range splits evenly
    assert all(30 <= n <= 70 for n in rows1.values()), rows1
    # membership is a pure function of the id: re-export identical
    m2 = export_training_shards(df, str(tmp_path / "b"), "doc_id", n_shards=4)
    a = sorted(map(tuple, m1.collect()))
    b = sorted(map(tuple, m2.collect()))
    assert a == b
    # physical layout: one directory per shard
    assert len(glob.glob(str(tmp_path / "a" / "shard=*"))) == 4


def test_normalize_text_composes_and_cleans(spark):
    rows = [
        (0, "cafe\u0301"),      # decomposed -> composed
        (1, "café"),           # already composed -> unchanged text
        (2, "a\x07b"),              # control char stripped
        (3, "  a \t\n b  "),        # whitespace collapsed + trimmed
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    out = {r["i"]: r["n"] for r in df.select("i", normalize_text(F.col("t")).alias("n")).collect()}
    assert out[0] == out[1] == "café"
    assert out[2] == "ab"
    assert out[3] == "a b"
    assert out[4] == ""
