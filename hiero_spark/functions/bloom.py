"""Broadcast Bloom-filter membership — the shuffle-free decontamination
path (SURVEY.md §2.11 N6 extension).

`contaminated_docs(hashed=True)` (functions/pipeline.py) is the exact
form: it shuffles the distinct train-shingle hashes into a semi-join.
At 100 TB the train side of that join is the cost — tens of billions of
distinct grams move through one shuffle even with 8-byte keys.  Spark's own
runtime row-level filtering solves the identical problem by folding the
build side into a Bloom filter and broadcasting it; `bloom_filter_agg`
exists in the JVM but is not registered for SQL (verified against this
container's Spark 4.1: UNRESOLVED_ROUTINE), so this module builds the
same object with public primitives:

- build: each item sets k = `n_hashes` bits at positions
  `xxhash64(item, seed) mod m`.  Bit-setting is a distributed
  `groupBy(pos >> 6).agg(bit_or(1L << (pos & 63)))` — partial
  aggregation ORs words map-side, so the build shuffle is bounded by
  O(partitions x m/64) words, INDEPENDENT of corpus size, and the train
  grams never need a `distinct()` (setting a bit twice is idempotent).
- probe: the driver assembles the <= m/64 non-zero words into a numpy
  bitmap (m bits ~ bytes; 4M bits = 512 KB), ships it once per executor
  via `SparkContext.broadcast`, and a vectorized pandas_udf tests all k
  positions per probe with numpy shifts.  Position hashing stays
  JVM-side (the same xxhash64 family as the build) so Python only does
  bit lookups on Arrow batches.

Guarantees: NO false negatives (every inserted item probes true); false
positives at rate ~(1 - e^(-kn/m))^k — callers size `m_bits` to their
distinct-item estimate.  Probing is a narrow per-row filter: zero
shuffle, zero join.

Local measurement (sf0.1, local[32], min-of-3): the Bloom path is
~1.5x SLOWER than the exact hashed semi-join (1.20 s vs 0.81 s) — at
this scale shuffles are memory-speed and the build aggregation + Python
probe overhead dominate.  The claim this module makes is about shuffle
VOLUME, not local wall-clock: the exact path's shuffle grows with
distinct train grams (tens of billions at 100 TB), the Bloom probe's
with the bitmap + final doc-id distinct only.  It is its own operator
(`n6_decontamination_bloom` checks it against the exact set), not a
pre-filter inside `contaminated_docs`: no operator switches to it on a
plan-size estimate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from hiero_spark.functions.pipeline import _gram_stream


def _positions(item: Column, m_bits: int, n_hashes: int) -> Column:
    """Array of the k bit positions an item maps to (JVM-side xxhash64;
    the seed is folded in as a second hash input, Spark's standard
    multi-hash idiom)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(item, F.lit(i)), F.lit(m_bits))
            for i in range(n_hashes)
        ]
    )


def build_bloom(
    items: DataFrame, item_col: str, m_bits: int = 1 << 22, n_hashes: int = 3
) -> np.ndarray:
    """Aggregate a DataFrame column into a Bloom bitmap (uint64 words).

    One wide pass: explode each item's k positions, group by the 64-bit
    word index, `bit_or` the single-bit masks.  Partial aggregation makes
    the shuffle O(m) regardless of row count; the driver collect is
    bounded by m/64 words (65,536 rows for the default 4M-bit filter) —
    the same driver-side merge Spark's injected bloom joins perform.
    """
    pos = items.select(
        F.explode(_positions(F.col(item_col), m_bits, n_hashes)).alias("p")
    )
    # F.shiftleft only takes a literal shift amount; the per-row shift
    # needs the SQL expression form.
    words = (
        pos.select(
            F.shiftright("p", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )
    n_words = (m_bits + 63) >> 6
    bitmap = np.zeros(n_words, dtype=np.uint64)
    # Arrow transfer beats row-at-a-time py4j collect ~10x at the default
    # 65k-word table (measured: the collect dominated the whole build).
    pdf = words.toPandas()
    bitmap[pdf["w"].to_numpy(dtype=np.int64)] = (
        pdf["word"].to_numpy(dtype=np.int64).view(np.uint64)
    )
    return bitmap


def might_contain_udf(spark, bitmap: np.ndarray):
    """Vectorized membership test over a position-array column.

    The bitmap ships once per executor (SparkContext.broadcast), not once
    per task; each Arrow batch stacks its position arrays into one
    (rows x k) matrix and resolves all bits with two numpy shifts."""
    bc = spark.sparkContext.broadcast(bitmap)

    @pandas_udf("boolean")
    def _contains(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        bm = bc.value
        mat = np.stack(pos.to_numpy()).astype(np.int64)
        words = bm[mat >> 6]
        bits = (words >> (mat & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return _contains


def bloom_filter_members(
    probe: DataFrame,
    item_col: str,
    bitmap: np.ndarray,
    m_bits: int,
    n_hashes: int = 3,
) -> DataFrame:
    """Rows of `probe` whose item is (probably) in the filter — narrow
    per-row filter, no shuffle, no join."""
    test = might_contain_udf(probe.sparkSession, bitmap)
    pos = _positions(F.col(item_col), m_bits, n_hashes)
    return probe.filter(test(pos))


def contaminated_docs_bloom(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    m_bits: int = 1 << 22,
    n_hashes: int = 3,
) -> DataFrame:
    """Benchmark decontamination via a broadcast Bloom filter: eval docs
    sharing (probably) any word k-gram with the training corpus.

    vs `contaminated_docs(hashed=True)`: the train side is folded into
    m bits (512 KB at the default) instead of a distinct+semi-join shuffle of
    every distinct gram hash; the eval side never shuffles at all until
    the final distinct on matched doc ids.  Superset semantics: every
    truly-contaminated doc is flagged (no false negatives); extra flags
    at the Bloom fp rate — size m_bits ~ 16 x distinct train grams for
    ~(0.17)^3 = 0.5% per-gram fp.  The exact `contaminated_docs`
    remains the verifier; this is the first-pass filter you run at 100 TB (flagged
    docs can be exact-checked afterwards at 1/1000 the input).
    """
    tr = _gram_stream(train_df, text_col, id_col, k, hashed=True)
    bitmap = build_bloom(tr, "gram", m_bits=m_bits, n_hashes=n_hashes)
    ev = _gram_stream(eval_df, text_col, id_col, k, hashed=True)
    return (
        bloom_filter_members(ev, "gram", bitmap, m_bits, n_hashes)
        .select(F.col("doc").alias(id_col))
        .distinct()
    )
