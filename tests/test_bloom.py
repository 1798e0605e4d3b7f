"""Broadcast Bloom-filter membership (functions/bloom.py): no false
negatives ever, false positives near the theoretical rate, and the
decontamination variant is a superset of the exact semi-join result with
a join-free probe plan."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hiero_spark.functions import bloom as bl
from hiero_spark.functions import pipeline as pl
from hiero_spark.functions.dedup import shingle_hash_array


M_BITS = 1 << 16  # small filter so the fp-rate test has teeth
K = 3


@pytest.fixture(scope="module")
def bitmap(spark):
    items = spark.range(0, 1000).select(F.xxhash64("id").alias("h"))
    return bl.build_bloom(items, "h", m_bits=M_BITS, n_hashes=K)


def test_no_false_negatives(spark, bitmap):
    """Every inserted item must probe true — the Bloom guarantee."""
    probe = spark.range(0, 1000).select(F.xxhash64("id").alias("h"))
    n = bl.bloom_filter_members(probe, "h", bitmap, M_BITS, K).count()
    assert n == 1000


def test_fp_rate_near_theory(spark, bitmap):
    """Non-members flag at ~(1 - e^(-kn/m))^k; allow 3x slack."""
    probe = spark.range(10_000, 30_000).select(F.xxhash64("id").alias("h"))
    n_fp = bl.bloom_filter_members(probe, "h", bitmap, M_BITS, K).count()
    theory = (1 - np.exp(-K * 1000 / M_BITS)) ** K
    assert n_fp / 20_000 < max(3 * theory, 1e-3)


def test_bitmap_bounded_by_m(spark, bitmap):
    assert bitmap.nbytes == ((M_BITS + 63) // 64) * 8


def test_contaminated_bloom_superset(spark, sf_dir):
    """Bloom flags ⊇ exact flags on the real corpus, and extras stay low."""
    docs = pl.assign_split(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    )
    ev = docs.filter(F.col("split") == "test")
    tr = docs.filter(F.col("split") == "train")
    flagged = bl.contaminated_docs_bloom(ev, tr, "text", "doc_id", k=3)
    exact = pl.contaminated_docs(ev, tr, "text", "doc_id", k=3, hashed=True)
    missed = exact.join(flagged, "doc_id", "left_anti").count()
    assert missed == 0
    extras = flagged.join(exact, "doc_id", "left_anti").count()
    assert extras <= max(1, ev.count() // 20)


def test_probe_plan_has_no_join(spark, sf_dir):
    """The scale claim: probing is a narrow filter — no join operator and
    no shuffle anywhere in the probe plan (the build aggregation is a
    separate, bounded job)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tr = docs.select(
        F.explode(shingle_hash_array(F.col("text"), 3)).alias("h")
    )
    bitmap = bl.build_bloom(tr, "h", m_bits=1 << 20)
    probe = docs.select(
        F.col("doc_id"),
        F.explode(shingle_hash_array(F.col("text"), 3)).alias("h"),
    )
    members = bl.bloom_filter_members(probe, "h", bitmap, 1 << 20)
    plan = members._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
