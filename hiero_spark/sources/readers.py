"""Readers / writers for the formats the reference supports (SURVEY.md §2.1).

hiero loci: CsvFileReader (S1, incl. schema guessing), Schema.java JSON
schema files (S2), JsonFileLoader (S3), Orc/Parquet loaders (S4/S5), JDBC
(S6), grok-style log readers (S7), file-set enumeration (S8), save-view
sink (S10).

Spark-first: every format maps to a built-in DataSource (distributed,
splittable, predicate-pushdown where the format allows). The JDBC reader
does partitioned reads via (partitionColumn, lowerBound, upperBound,
numPartitions) and is integration-tested against the embedded Derby that
ships in Spark's jars (tests/test_jdbc.py), filter pushdown included.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# -- S2: JSON schema files --------------------------------------------------

def save_schema(df_schema: T.StructType, path: str) -> None:
    with open(path, "w") as f:
        json.dump(json.loads(df_schema.json()), f, indent=2)


def load_schema(path: str) -> T.StructType:
    with open(path) as f:
        return T.StructType.fromJson(json.load(f))


# -- S1: CSV ------------------------------------------------------------------

def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None,
    header: bool = True, infer: bool = False,
) -> DataFrame:
    """CSV with explicit schema (hiero schema file) or guessing (inferSchema)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


# -- S3: newline-delimited JSON ----------------------------------------------

def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


# -- S4/S5: columnar ----------------------------------------------------------

def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet read across files written under DIFFERENT schema versions
    (columns added over time — the normal life of a long-lived dataset).

    mergeSchema unions the per-file schemas at planning time (a
    footer-only pass, like the Z-order pruner); rows from files that
    predate a column read it as NULL.  At 100 TB this is what lets a
    pipeline add a column without rewriting history — the alternative,
    a backfill of every historical file, is exactly the cost this
    avoids."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


# -- S6: JDBC (config-only in this container) ---------------------------------

def read_jdbc(
    spark: SparkSession, url: str, table: str,
    partition_column: str | None = None,
    lower: int | None = None, upper: int | None = None, num_partitions: int = 8,
    properties: dict | None = None,
) -> DataFrame:
    """Partitioned JDBC read; Spark pushes filters/pruning to the database
    (the analog of hiero's sketch-to-SQL pushdown, storage/jdbc/*)."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower))
            .option("upperBound", str(upper))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


# -- S7: structured log parsing ------------------------------------------------

LOG_PATTERN = r"^(\S+) (\S+) \[([^\]]*)\] (.*)$"


def read_logs(spark: SparkSession, path: str, pattern: str = LOG_PATTERN,
              fields: tuple[str, ...] = ("ts", "level", "source", "message")) -> DataFrame:
    """Grok-like log reader: text source + regexp_extract per field."""
    lines = spark.read.text(path)
    cols = [
        F.regexp_extract(F.col("value"), pattern, i + 1).alias(name)
        for i, name in enumerate(fields)
    ]
    return lines.select(*cols)


# -- S8: file-set enumeration ---------------------------------------------------

def read_file_set(
    spark: SparkSession, paths: list[str] | str, fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """hiero maps a dataset of file names to a dataset of tables (S8,
    FileSetDescription/LoadFilesMap). Spark's DataSource does the listing,
    split planning, and per-executor assignment natively; per-file
    provenance survives as a `source_file` column (basename of
    input_file_name), so downstream ops can group/filter by origin file.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(paths)
    return df.withColumn(
        "source_file", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    )


# -- S9: synthetic / test tables -------------------------------------------------

def synthetic_table(spark: SparkSession, n: int = 1000, partitions: int | None = None) -> DataFrame:
    """Deterministic generated table (S9, TestTables.java): spark.range is a
    parallel, splittable source (no driver-side row materialization), and
    every derived column is a pure function of `id`, so the table is
    reproducible at any parallelism."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    return rng.select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        ((F.col("id") * 37) % 101).cast("double").alias("x"),
        F.concat(F.lit("row-"), F.col("id")).alias("label"),
    )


def synthetic_embeddings(
    spark: SparkSession, n: int, dim: int = 64, n_clusters: int = 32,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic embedding corpus (S9 family) for ANN
    benchmarks at sizes the fixtures don't ship.

    Clustered, not uniform: each vector = its cluster's centroid + small
    hash-noise, so an IVF coarse quantizer has real structure to learn and
    a nearest-cell probe has real recall — uniform random vectors make
    every cell equidistant and IVF look uselessly pessimistic. All values
    are pure integer-hash functions of (id, dimension), so the corpus is
    bit-identical at any parallelism (same contract as synthetic_table).
    """
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    cluster = (F.col("id") % n_clusters).alias("_c")
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return (
        rng.select(F.col("id").alias("vec_id"), cluster)
        .select(
            "vec_id",
            F.transform(
                idx,
                lambda i: (
                    F.pmod(F.xxhash64(F.col("_c"), i), F.lit(2000)) / 1000.0 - 1.0
                    + F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(200)) / 1000.0 - 0.1
                ).cast("float"),
            ).alias("embedding"),
        )
    )


def synthetic_boilerplate_corpus(
    spark: SparkSession, n: int, hot: int, doc_len: int = 30,
    vocab: int = 30_000, partitions: int | None = None,
) -> DataFrame:
    """Adversarially-skewed crawl corpus: the first `hot` doc_ids share
    one boilerplate template (doc_len-1 fixed words + 1 word varying
    over 1000 values), so they are mutual near-dups (3-gram Jaccard
    ~0.8 across variants, 1.0 within a variant)
    and EVERY LSH band bucket for them goes hot — the real-crawl failure
    mode the dedup caps exist for.  The remaining n-hot docs are
    `doc_len` words drawn by integer hash from a `vocab`-word vocabulary
    (no structural near-dups).  Pure hash of (id, j): bit-identical at
    any parallelism."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    idx = F.sequence(F.lit(0), F.lit(doc_len - 1))
    normal_words = F.transform(
        idx,
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), j), F.lit(vocab))
        ),
    )
    hot_words = F.transform(
        idx,
        lambda j: F.when(
            j < doc_len - 1, F.concat(F.lit("b"), j.cast("string"))
        ).otherwise(
            F.concat(F.lit("v"), F.pmod(F.xxhash64(F.col("id")), F.lit(1000)))
        ),
    )
    return rng.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.when(F.col("id") < hot, hot_words).otherwise(normal_words)
        ).alias("text"),
    )


def synthetic_containment_corpus(
    spark: SparkSession, n: int, pages: int, quotes: int, doc_len: int = 30,
    snip_len: int = 10, vocab: int = 30_000, partitions: int | None = None,
) -> DataFrame:
    """Quote-detection skew corpus (round-8 verdict #3): ids [0, quotes)
    are VERBATIM copies of one snip_len-word snippet — the pure-boilerplate
    docs whose every shingle is hot; ids [quotes, quotes+pages) are pages
    that start with the snippet and continue with doc_len - snip_len
    hash-unique filler words (containment of the snippet in each page is
    exactly 1.0 over word-3-grams); the rest is the synthetic hash corpus
    (no structural containment). Pure hash of (id, j): bit-identical at
    any parallelism."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    snippet_words = F.transform(
        F.sequence(F.lit(0), F.lit(snip_len - 1)),
        lambda j: F.concat(F.lit("q"), j.cast("string")),
    )
    filler = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - snip_len - 1)),
        lambda j: F.concat(F.lit("u"), F.xxhash64(F.col("id"), j).cast("string")),
    )
    normal = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), j), F.lit(vocab))
        ),
    )
    words = (
        F.when(F.col("id") < quotes, snippet_words)
        .when(F.col("id") < quotes + pages, F.concat(snippet_words, filler))
        .otherwise(normal)
    )
    return rng.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def synthetic_verbatim_corpus(
    spark: SparkSession, n: int, copies: int, doc_len: int = 30,
    vocab: int = 30_000, partitions: int | None = None,
) -> DataFrame:
    """Extreme-duplication corpus (round-9 verdict #2: the jaccard_join
    skew stress): ids [0, copies) are VERBATIM copies of one fixed
    doc_len-word document — the regime where PPJoin's length filter
    passes every intra-group pair and an uncollapsed join generates
    copies^2/2 candidates for ONE set-level relationship.  The rest is
    the synthetic hash corpus (no structural near-dups).  Pure hash of
    (id, j): bit-identical at any parallelism."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    idx = F.sequence(F.lit(0), F.lit(doc_len - 1))
    fixed = F.transform(idx, lambda j: F.concat(F.lit("c"), j.cast("string")))
    normal = F.transform(
        idx,
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), j), F.lit(vocab))
        ),
    )
    return rng.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.when(F.col("id") < copies, fixed).otherwise(normal)
        ).alias("text"),
    )


# -- S10: sinks -----------------------------------------------------------------

def save_view(df: DataFrame, path: str, fmt: str = "parquet",
              partition_by: tuple[str, ...] = ()) -> None:
    """Persist a (filtered/derived) view. partition_by enables partition
    pruning for downstream readers — the on-disk analog of hiero's
    membership sets."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


# -- Bucketed tables: co-located joins ------------------------------------------

def save_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 8, sort: bool = True
) -> None:
    """Write a table bucketed (and sorted) by the join key.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle — each task reads matching bucket files from both
    sides (and with sortBy, without a sort either). At 100 TB this is THE
    way to make a recurring fact-fact join cheap: pay the partitioning
    once at write time instead of on every query.
    (Bucketing rides the session catalog, hence saveAsTable not save.)
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a dropped-in-a-past-session table leaves its managed location behind;
    # clear it or saveAsTable fails with LOCATION_ALREADY_EXISTS
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    import shutil

    shutil.rmtree(f"{loc}/{table}", ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)
