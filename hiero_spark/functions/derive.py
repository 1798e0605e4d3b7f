"""Derived columns / scalar functions (SURVEY.md §2.8, F1–F7).

hiero's only general compute escape hatch is a per-row JavaScript UDF
(`maps/CreateColumnJSMap.java`, Nashorn). Spark-first translation: stay in
Catalyst expressions (`F.expr`) — JVM-side, codegen'd, pushdown-friendly.
Logic SQL cannot express belongs in a caller's own Arrow-vectorized
`pandas_udf` (documented deviation: Python semantics, not JS).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def derive_expr(df: DataFrame, name: str, sql_expr: str) -> DataFrame:
    """F1: derived column from a SQL expression string.

    Equivalent of CreateColumnJSMap for expressible logic; Catalyst folds
    constants and keeps it inside whole-stage codegen.
    """
    return df.withColumn(name, F.expr(sql_expr))


def convert_column(df: DataFrame, col: str, to: str, new_name: str | None = None) -> DataFrame:
    """F2 ConvertColumnMap: kind conversion (int/double/string/date/interval).

    `to` is a Spark type name ("long", "double", "string", "timestamp",
    "date") — hiero's Category kind maps to plain string (SURVEY.md §1.2).
    The Duration kind maps to DayTimeIntervalType: "interval_day" /
    "interval_second" convert a numeric day/second count into a real
    interval column that supports comparisons against INTERVAL literals,
    date/timestamp arithmetic, and min/max/avg aggregation.
    """
    target = new_name or col
    c = F.col(col)
    if to == "timestamp":
        expr = F.to_timestamp(c)
    elif to == "date":
        expr = F.to_date(c)
    elif to == "interval_day":
        expr = F.make_dt_interval(days=c.cast("int"))
    elif to == "interval_second":
        expr = F.make_dt_interval(secs=c.cast("double"))
    else:
        expr = c.cast(to)
    return df.withColumn(target, expr)


def json_field(col: str, path: str) -> Column:
    """F3: extract a field from a Json-kind (string) column."""
    return F.get_json_object(F.col(col), f"$.{path}")


def date_bucket(col: str, unit: str) -> Column:
    """F4: truncate a timestamp to year/month/week/day/hour buckets."""
    return F.date_trunc(unit, F.col(col))


def log_bucket(col: Column, lo: float, n: int, base: float = 10.0) -> Column:
    """F6: log-scale bucket index (hiero's log-axis histograms)."""
    import math

    return F.least(
        F.greatest(F.floor(F.log(float(base), col / F.lit(lo))), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")


def linear_projection(df: DataFrame, cols: list[str], weights: list[list[float]],
                      prefix: str = "proj") -> DataFrame:
    """F7 LinearProjectionMap: project rows onto given component vectors
    (e.g. PCA eigenvectors from the A12 correlation sketch).

    Pure column arithmetic — codegen'd dot product per component, no UDF.
    """
    out = df
    for k, w in enumerate(weights):
        expr = None
        for c, wi in zip(cols, w):
            term = F.col(c) * F.lit(float(wi))
            expr = term if expr is None else expr + term
        out = out.withColumn(f"{prefix}_{k}", expr)
    return out
