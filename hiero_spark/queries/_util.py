"""Shared helpers for oracle-checked queries.

Cross-engine determinism rules (Spark vs DuckDB must produce bit-identical
values — the driver hashes them):

- Sums of fixed-decimal doubles (prices) are NOT order-stable in plain
  double arithmetic. `money_sum` scales to an exact integer per row
  (`round(x * scale)` -> bigint), sums exactly, and divides once at the
  end — bit-identical in both engines and still a single partial+final
  aggregation in Spark.
- Integer-valued doubles (quantities, counts) sum exactly in double; no
  trick needed.
- avg/variance/corr results are rounded to 6 decimals on both sides (the
  residual cross-engine error is ~1e-12 relative).
- Timestamps are formatted to strings (`yyyy-MM-dd` / epoch seconds) in
  final outputs; engines disagree on raw timestamp hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hiero_spark.catalog import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _sf_export_dir(sf_dir: str, name: str) -> str:
    """Per-scale export path: keyed on the sf_dir basename so concurrent
    runs at different scale factors never read each other's artifacts
    (a fixed shared path could race)."""
    import os
    import tempfile

    sf_key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(
        tempfile.gettempdir(), "hiero_spark_sources", f"{name}_{sf_key}"
    )
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def money_sum(expr: Column, scale: int = 100) -> Column:
    """Exact sum of a fixed-decimal double column; returns double.

    Spark side of the scaled-integer trick; SQL twin is `money_sum_sql`.
    """
    return F.sum(F.round(expr * scale).cast("long")) / float(scale)


def money_sum_sql(expr: str, scale: int = 100) -> str:
    return f"(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) / {float(scale)})"


def day_str(col: Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd")


DAY_STR_SQL = "strftime({col}, '%Y-%m-%d')"
