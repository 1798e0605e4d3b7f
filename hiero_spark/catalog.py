"""Table catalog: load the star-schema parquet tables and register SQL views.

Mirrors hiero's dataset-loading entry point (`InitialObjectTarget.loadTable`
-> `LoadFilesMap`, SURVEY.md §3.2): loading is lazy, column-pruned, and
partition-parallel — all free via `spark.read.parquet`.

hiero loads a table once and sends every later sketch to the loaded
dataset. The part of a load that costs a Spark job is parquet schema
inference (a job that reads a footer), so the catalog resolves each
table's schema once per Spark application and path, and later loads pass
it to `spark.read.schema(...)`, which only lists the files. The schema is
re-inferred when the path's files change. Only the schema is memoized:
every load still builds a fresh relation (see `_SCHEMAS`).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime-settable confs the engine depends on, applied defensively so
    queries behave identically under a session the caller built without
    hiero_spark.session.get_spark (e.g. the verification driver's)."""
    # events.ts is parquet TIMESTAMP(NANOS): read as epoch-nanos long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Deterministic timestamp formatting / window alignment (oracle is UTC).
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Parquet schema memo: (applicationId, path) -> (fingerprint, schema).
# Only the schema is kept, never the DataFrame: each load must be a fresh
# relation, because two loads of one table in a plan (a self-join) need
# distinct attribute ids, and files added or removed under the path must
# still be listed. The fingerprint (see `_fingerprint`) catches a path
# rewritten with another schema. nanosAsLong, which changes how events.ts
# is inferred, is pinned by `_ensure_session_confs` before every read, so
# the key leaves it out. Two threads missing at once both infer and store
# the same value.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """The local file state a parquet path's schema depends on: for a file,
    (inode, size, mtime_ns); for a directory (a Spark-written table), the
    sorted (relpath, size, mtime_ns) of every file under it.  None when the
    path is not on the local file system or cannot be read, and then the
    schema is always inferred."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        if not os.path.isdir(local):
            st = os.stat(local)
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, _dirs, names in os.walk(local):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append(
                    (os.path.relpath(full, local), st.st_size, st.st_mtime_ns)
                )
        return tuple(sorted(files))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, inferring the schema only on the first
    read of `path` in this application or after its files changed."""
    key = (spark.sparkContext.applicationId, path)
    fp = _fingerprint(path)
    memo = _SCHEMAS.get(key)
    if fp is not None and memo is not None and memo[0] == fp:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    if fp is not None:
        _SCHEMAS[key] = (fp, df.schema)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of how the driver
    generated the parquet. One shared dispatch for the batch and streaming
    readers (they must never drift). Seen in the wild across rounds:
      - TIMESTAMP(NANOS): with nanosAsLong=true arrives as epoch-nanos
        bigint -> timestamp_micros(ts DIV 1000);
      - timestamp[us] without timezone: arrives as TIMESTAMP_NTZ, which
        time functions like unix_millis reject -> cast to TIMESTAMP
        (exact under the UTC session tz, and identical to how the
        DuckDB oracle treats the same naive values);
      - TimestampType: already normalized, no-op.
    Works identically on batch and streaming DataFrames (pure projection,
    dispatched on the analyzed schema).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # integer division: epoch-nanos exceeds double's exact range
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_confs(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view so spark.sql() can reference it.

    View names match the DuckDB oracle's pre-registered view names
    (__spark_entry__.py contract).
    """
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
