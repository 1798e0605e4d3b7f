"""Source/sink round-trip queries (SURVEY.md §2.1).

Each query exports a table to /tmp in the target format at query time,
reads it back through the engine's reader, and returns the rows; the
oracle reads the pristine parquet view — so the round-trip must be
lossless for the check to pass.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from hiero_spark.registry import query
from hiero_spark.queries._util import t
from hiero_spark.sources import readers as rd

_TMP = os.path.join(tempfile.gettempdir(), "hiero_spark_sources")


def _export_dir(name: str) -> str:
    os.makedirs(_TMP, exist_ok=True)
    return os.path.join(_TMP, name)


@query(
    "s1_csv_roundtrip",
    group="S1/S2",
    doc="CSV writer -> schema file -> CSV reader with explicit schema "
        "(CsvFileReader + Schema.java analog).",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s1_csv_roundtrip(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    path = _export_dir("nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    schema_path = os.path.join(_TMP, "nation_schema.json")
    rd.save_schema(nation.schema, schema_path)
    back = rd.read_csv(spark, path, schema=rd.load_schema(schema_path))
    return back.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "s1_csv_infer",
    group="S1",
    doc="CSV with schema guessing (CsvFileReader lazy guessing analog).",
    oracle="SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name FROM region",
)
def s1_csv_infer(spark, sf_dir):
    region = t(spark, sf_dir, "region")
    path = _export_dir("region_csv")
    region.write.mode("overwrite").option("header", "true").csv(path)
    back = rd.read_csv(spark, path, infer=True)
    return back.select(F.col("r_regionkey").cast("int").alias("r_regionkey"), "r_name")


@query(
    "s3_json_roundtrip",
    group="S3",
    doc="Newline-delimited JSON round-trip with explicit schema.",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s3_json_roundtrip(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    path = _export_dir("nation_json")
    nation.write.mode("overwrite").json(path)
    back = rd.read_json(spark, path, schema=nation.schema)
    return back.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "s3_json_gz_roundtrip",
    group="S3",
    doc="GZIP-compressed NDJSON round-trip: write with the gzip codec, "
        "read back with explicit schema. Spark's text sources handle "
        "the codec transparently (the .jsonl.gz ingestion path every "
        "crawl pipeline starts from); the pin is that compressed "
        "ingestion produces byte-identical relational content.",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s3_json_gz_roundtrip(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    path = _export_dir("nation_json_gz")
    nation.write.mode("overwrite").option("compression", "gzip").json(path)
    back = rd.read_json(spark, path, schema=nation.schema)
    return back.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "s4_orc_roundtrip",
    group="S4",
    doc="ORC write + read (OrcFileLoader/Writer analog).",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def s4_orc_roundtrip(spark, sf_dir):
    supplier = t(spark, sf_dir, "supplier")
    path = _export_dir("supplier_orc")
    supplier.write.mode("overwrite").orc(path)
    return rd.read_orc(spark, path).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@query(
    "s6_jdbc_roundtrip",
    group="S6",
    doc="JDBC source: load supplier into the embedded Derby that ships in "
        "Spark's jars, read it back as a PARTITIONED jdbc scan (4 range "
        "partitions on s_suppkey). The oracle reads the pristine parquet, "
        "so the database round-trip must be lossless.",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def s6_jdbc_roundtrip(spark, sf_dir):
    import shutil

    db = _export_dir("derby_roundtrip")
    shutil.rmtree(db, ignore_errors=True)  # Derby create=true wants a fresh dir
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    supplier = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    (
        supplier.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "supplier_rt")
        .options(**props)
        .save()
    )
    hi = supplier.agg(F.max("s_suppkey")).first()[0]
    back = rd.read_jdbc(
        spark, url, "supplier_rt",
        partition_column="s_suppkey", lower=0, upper=int(hi) + 1,
        num_partitions=4, properties=props,
    )
    return back.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        "s_acctbal",
    )


@query(
    "s7_log_reader",
    group="S7",
    doc="Grok-style log parsing: text lines -> regexp-extracted columns.",
    oracle="""
        SELECT CAST(n_nationkey AS VARCHAR) AS ts,
               'INFO' AS level,
               n_name AS source,
               'loaded nation ' || n_name AS message
        FROM nation
    """,
)
def s7_log_reader(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    path = _export_dir("nation_log")
    lines = nation.select(
        F.concat_ws(
            " ",
            F.col("n_nationkey").cast("string"),
            F.lit("INFO"),
            F.concat(F.lit("["), F.col("n_name"), F.lit("]")),
            F.concat(F.lit("loaded nation "), F.col("n_name")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    return rd.read_logs(spark, path, fields=("ts", "level", "source", "message"))


@query(
    "s10_sink_roundtrip",
    group="S10",
    doc="Sink: persist a filtered view partitioned by a column, read back "
        "(partition pruning on the saved view).",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderstatus = 'F'
    """,
)
def s10_sink_roundtrip(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    path = _export_dir("orders_sink")
    view = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    rd.save_view(view, path, partition_by=("o_orderstatus",))
    back = rd.read_parquet(spark, path).filter(F.col("o_orderstatus") == "F")
    return back.select(
        "o_orderkey",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        "o_totalprice",
    )


@query(
    "s8_file_enumeration",
    group="S8",
    doc="File-set enumeration: a list of file names becomes one DataFrame "
        "with per-file provenance (Spark's DataSource does listing + split "
        "assignment; basename survives as source_file).",
    oracle="""
        SELECT 'region.parquet' AS source_file, COUNT(*) AS n,
               CAST(SUM(r_regionkey) AS BIGINT) AS key_sum
        FROM region
    """,
)
def s8_file_enumeration(spark, sf_dir):
    df = rd.read_file_set(spark, [f"{sf_dir}/region.parquet"])
    return df.groupBy("source_file").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_regionkey").cast("long").alias("key_sum"),
    )


@query(
    "s9_synthetic",
    group="S9",
    doc="Synthetic test table: every column a pure function of spark.range's "
        "id, reproducible at any parallelism.",
    oracle="""
        SELECT id, id % 7 AS g, CAST((id * 37) % 101 AS DOUBLE) AS x,
               'row-' || id AS label
        FROM range(1000) t(id)
    """,
)
def s9_synthetic(spark, sf_dir):
    return rd.synthetic_table(spark, 1000)


@query(
    "s11_zorder_pruned_read",
    group="S11",
    doc="Z-order layout + footer-stats file skipping (sources/layout.py): "
        "orders written clustered on the (o_custkey, o_totalprice) "
        "Z-curve, then a 2-D rectangle is answered by reading ONLY the "
        "files whose footer min/max box intersects it (pyarrow metadata "
        "pass, no row data). The exact predicate re-applies after the "
        "scan, so the oracle is the plain SQL filter — a hash match "
        "proves pruning dropped no qualifying row. File-count assertions "
        "live in tests/test_zorder.py (4/16 files for this rectangle vs "
        "16/16 under a single-column sort layout).",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 500
          AND o_totalprice BETWEEN 20000 AND 80000
    """,
)
def s11_zorder_pruned_read(spark, sf_dir):
    from hiero_spark.sources import layout

    path = _export_dir("orders_zorder")
    layout.save_zordered(
        t(spark, sf_dir, "orders"), path,
        ["o_custkey", "o_totalprice"], n_files=16,
    )
    pruned = layout.read_pruned(
        spark, path,
        {"o_custkey": (100, 500), "o_totalprice": (20000, 80000)},
    )
    return pruned.select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )


@query(
    "s12_schema_evolution",
    group="S12",
    doc="Schema-evolution read (sources/readers.py:read_parquet_evolved): "
        "generation 1 files lack o_totalprice, generation 2 adds it; "
        "mergeSchema unions the file schemas at plan time and gen-1 rows "
        "surface the new column as NULL — no historical rewrite. The "
        "oracle reproduces the union semantics directly.",
    oracle="""
        SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def s12_schema_evolution(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    gen1 = _export_dir("orders_gen1")
    gen2 = _export_dir("orders_gen2")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey"
    ).write.mode("overwrite").parquet(gen1)
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(gen2)
    return rd.read_parquet_evolved(spark, gen1, gen2).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "s13_python_datasource",
    group="S13",
    doc="Custom Python DataSource (sources/pyds.py, Spark 4 datasource "
        "API): the grok/log format as a first-class table — one input "
        "partition per file (Spark schedules them like parquet splits) "
        "and EqualTo filters pushed into the parse loop "
        "(spark.sql.python.filterPushdown). Logs are synthesized from "
        "nation with INFO/WARN levels; the query reads back ONLY the "
        "INFO rows through the pushed filter, and the oracle recomputes "
        "them relationally.",
    oracle="""
        SELECT 't' || n_nationkey AS ts,
               'INFO' AS level,
               n_name AS source,
               'loaded nation ' || n_name AS message
        FROM nation WHERE n_nationkey % 2 = 0
    """,
)
def s13_python_datasource(spark, sf_dir):
    from hiero_spark.sources import pyds

    nation = t(spark, sf_dir, "nation")
    path = _export_dir("nation_pyds_log")
    level = F.when(F.col("n_nationkey") % 2 == 0, "INFO").otherwise("WARN")
    lines = nation.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("t"), F.col("n_nationkey").cast("string")),
            level,
            F.concat(F.lit("["), F.col("n_name"), F.lit("]")),
            F.concat(F.lit("loaded nation "), F.col("n_name")),
        ).alias("value")
    )
    lines.repartition(3).write.mode("overwrite").text(path)
    pyds.register(spark)
    return (
        spark.read.format("hiero_logs")
        .option("path", f"{path}/part-*.txt")
        .load()
        .filter(F.col("level") == "INFO")
    )


@query(
    "s14_compaction",
    group="S14",
    doc="Small-file compaction (sources/layout.py:compact_parquet): a "
        "64-file orders landing directory compacts to few files sized "
        "from footer metadata only (no data read for the sizing pass); "
        "compaction is layout-only, so the read-back must hash-equal "
        "the source table — which is exactly what the oracle checks.",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus FROM orders",
)
def s14_compaction(spark, sf_dir):
    from hiero_spark.sources import layout

    src = _export_dir("orders_small_files")
    dst = _export_dir("orders_compacted")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    orders.repartition(64).write.mode("overwrite").parquet(src)
    audit = layout.compact_parquet(spark, src, dst, target_file_bytes=1 << 20)
    assert audit["files_out"] < audit["files_in"]
    return spark.read.parquet(dst)


@query(
    "s15_training_shards",
    group="S15",
    doc="Training-shard export (sources/layout.py:export_training_shards): "
        "documents shard by pmod(doc_id, 8) — membership is a pure "
        "function of the id, so re-exports are reproducible and loaders "
        "resume by shard — written partitionBy(shard), manifest read "
        "back FROM THE WRITTEN FILES. The oracle recomputes the manifest "
        "from the source table: match proves the export lost and "
        "duplicated nothing, per shard.",
    oracle="""
        WITH s AS (
          SELECT doc_id, doc_id % 8 AS shard FROM documents
        )
        SELECT CAST(shard AS BIGINT) AS shard,
               COUNT(*) AS n_rows,
               MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id
        FROM s GROUP BY shard ORDER BY shard
    """,
)
def s15_training_shards(spark, sf_dir):
    from hiero_spark.sources import layout

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return layout.export_training_shards(
        docs, _export_dir("doc_shards"), "doc_id", n_shards=8
    )


@query(
    "s16_upsert_merge",
    group="S16",
    doc="MERGE-INTO emulation on plain parquet "
        "(sources/layout.py:upsert_partitioned): a deterministic change "
        "batch (updates + deletes + inserts, all in status-'F') merges "
        "copy-on-write into a status-partitioned orders table — ONLY the "
        "affected partition rewrites (untouched-partition bytes asserted "
        "in tests); the oracle recomputes the final table state from the "
        "source rows. The manual form of Delta/Iceberg MERGE, O(changed "
        "partitions) not O(table).",
    oracle="""
        WITH base AS (
          SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS t
          FROM orders
        ), kept AS (
          SELECT k, s,
                 CASE WHEN s = 'F' AND k % 97 = 0 THEN k * 1.0 ELSE t END AS t
          FROM base
          WHERE NOT (s = 'F' AND k % 89 = 0 AND k % 97 <> 0)
        ), final AS (
          SELECT * FROM kept
          UNION ALL SELECT 9000001, 'F', 1.0
          UNION ALL SELECT 9000002, 'F', 2.0
          UNION ALL SELECT 9000003, 'F', 3.0
        )
        SELECT k AS o_orderkey, t AS o_totalprice, s AS o_orderstatus
        FROM final
    """,
)
def s16_upsert_merge(spark, sf_dir):
    from pyspark.sql import Row

    from hiero_spark.sources import layout

    dst = _export_dir("orders_upsert")
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dst)

    k = F.col("o_orderkey")
    updates = (
        base.filter((F.col("o_orderstatus") == "F") & (k % 97 == 0))
        .select(
            "o_orderkey",
            (k * 1.0).alias("o_totalprice"),
            "o_orderstatus",
            F.lit(False).alias("_delete"),
        )
    )
    deletes = (
        base.filter(
            (F.col("o_orderstatus") == "F") & (k % 89 == 0) & (k % 97 != 0)
        )
        .select(
            "o_orderkey", "o_totalprice", "o_orderstatus",
            F.lit(True).alias("_delete"),
        )
    )
    inserts = spark.createDataFrame(
        [
            Row(o_orderkey=9000001, o_totalprice=1.0, o_orderstatus="F", _delete=False),
            Row(o_orderkey=9000002, o_totalprice=2.0, o_orderstatus="F", _delete=False),
            Row(o_orderkey=9000003, o_totalprice=3.0, o_orderstatus="F", _delete=False),
        ]
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    layout.upsert_partitioned(
        spark, dst, changes, "o_orderkey", "o_orderstatus"
    )
    return spark.read.parquet(dst)


@query(
    "s17_incremental_agg",
    group="S17",
    doc="Incremental materialized-view maintenance "
        "(functions/incremental.py:agg_state/merge_agg_state): per-"
        "customer order stats build from ~80% of orders, persist as a "
        "mergeable state table, then fold in the remaining batch WITHOUT "
        "re-reading history — and the result must equal the full "
        "recompute, which is exactly what the oracle runs. Sums ride the "
        "scaled-cents convention so the merge is exact long arithmetic "
        "in any order.",
    oracle="""
        SELECT o_custkey AS key,
               COUNT(*) AS n,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total,
               MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS min_order,
               MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS max_order
        FROM orders GROUP BY o_custkey
    """,
)
def s17_incremental_agg(spark, sf_dir):
    from hiero_spark.functions.incremental import agg_state, merge_agg_state

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hist = orders.filter(F.col("o_orderkey") % 10 < 8)
    batch = orders.filter(F.col("o_orderkey") % 10 >= 8)
    state_path = _export_dir("orders_agg_state")
    agg_state(hist, "o_custkey", "cents").write.mode("overwrite").parquet(state_path)
    merged = merge_agg_state(
        spark.read.parquet(state_path), agg_state(batch, "o_custkey", "cents")
    )
    return merged.select(
        "key",
        "n",
        (F.col("sum_v") / 100.0).alias("total"),
        (F.col("min_v") / 100.0).alias("min_order"),
        (F.col("max_v") / 100.0).alias("max_order"),
    )


@query(
    "s11_prefix_pruned_read",
    group="S11",
    doc="String-prefix file skipping "
        "(sources/layout.py:read_prefix_pruned): documents land sorted "
        "by source into 8 files, a LIKE 'src3%' read prunes to the "
        "files whose footer [min,max] name-range intersects "
        "[prefix, succ(prefix)) — the string twin of the Z-order "
        "numeric path (a test pins that files are actually skipped).",
    oracle="""
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE source LIKE 'src3%'
    """,
)
def s11_prefix_pruned_read(spark, sf_dir):
    from hiero_spark.sources import layout

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = _export_dir("docs_by_source")
    (
        docs.repartitionByRange(8, "source")
        .sortWithinPartitions("source")
        .write.mode("overwrite")
        .parquet(path)
    )
    out = layout.read_prefix_pruned(spark, path, "source", "src3")
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@query(
    "s19_time_travel",
    group="S19",
    doc="Snapshot-versioned table (sources/versioned.py): commit v0 = "
        "orders with o_orderkey % 3 = 0, append v1 adding the % 3 = 1 "
        "rows, then answer from the MANIFESTS — per-version row counts "
        "via time-travel reads (v0 is re-read AFTER the append and must "
        "still be its original self: immutable files + manifest "
        "pinning), and v1's added-row count via version_diff, which "
        "scans ONLY the delta commit's files (inputFiles-pinned in "
        "tests). The oracle recomputes all three numbers from the "
        "source table.",
    oracle="""
        SELECT 0 AS version,
               CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_added
        FROM orders
        UNION ALL
        SELECT 1 AS version,
               CAST(SUM(CASE WHEN o_orderkey % 3 <= 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_added
        FROM orders
    """,
)
def s19_time_travel(spark, sf_dir):
    import shutil

    from hiero_spark.sources import versioned as V

    path = _export_dir("orders_versioned")
    shutil.rmtree(path, ignore_errors=True)
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    V.commit_version(orders.filter(F.col("o_orderkey") % 3 == 0), path, "append")
    V.commit_version(orders.filter(F.col("o_orderkey") % 3 == 1), path, "append")
    n0 = V.read_version(spark, path, 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    n1 = V.read_version(spark, path, 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    added = (
        V.version_diff(spark, path, 0, 1, "o_orderkey")
        .filter(F.col("change") == "added")
        .agg(F.count(F.lit(1)).cast("long").alias("n_added"))
    )
    row0 = n0.select(
        F.lit(0).alias("version"), "n_rows", F.col("n_rows").alias("n_added")
    )
    row1 = n1.crossJoin(added).select(F.lit(1).alias("version"), "n_rows", "n_added")
    return row0.unionByName(row1)


@query(
    "s20_bloom_pruned_read",
    group="S20",
    doc="Bloom-sidecar file skipping "
        "(sources/layout.py:save_bloom_indexed/read_bloom_pruned_many): "
        "documents land in 16 key-hashed file groups, each with a Bloom "
        "bitmap over its doc_ids in a _blooms.json sidecar; an equality "
        "lookup probes the bitmaps and reads ONLY the 'maybe' groups — "
        "the equality complement of the sorted-layout footer-stats "
        "pruners (works on ANY layout, like Parquet bloom pages / "
        "Iceberg puffin). No false negatives by construction; the exact "
        "predicate still runs after pruning. Tests pin the strict-subset "
        "scan; here one batched lookup of three keys is hash-verified.",
    oracle="""
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE doc_id IN (7, 123, 321)
    """,
)
def s20_bloom_pruned_read(spark, sf_dir):
    from hiero_spark.sources import layout

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = _export_dir("docs_bloom_indexed")
    layout.save_bloom_indexed(spark, docs, path, "doc_id", n_files=16)
    out = layout.read_bloom_pruned_many(spark, path, [7, 123, 321])
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@query(
    "s21_incremental_join_view",
    group="S21",
    doc="Incremental JOIN-view maintenance "
        "(functions/incremental.py:join_view_delta): the materialized "
        "orders|x|customer view is maintained under appends to BOTH "
        "sides by the bilinear delta rule dV = dA|x|(B u dB) u A|x|dB "
        "— each new pair lands exactly once, history never re-joins "
        "history, and both legs broadcast the DELTA so the stored "
        "sides are scanned but never shuffled. Returns per-nation "
        "counts + cents sums from the maintained view; the oracle "
        "recomputes from the full join, so a hash match certifies "
        "fold == recompute through the aggregate (the exact row-level "
        "equality is pinned in tests/test_join_view.py).",
    oracle="""
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
)
def s21_incremental_join_view(spark, sf_dir):
    from hiero_spark.functions.incremental import (
        join_view, join_view_delta, merge_join_view,
    )

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    a_old = orders.filter(F.col("o_orderkey") % 10 != 0)
    da = orders.filter(F.col("o_orderkey") % 10 == 0)
    b_old = cust.filter(F.col("custkey") % 20 != 0)
    db = cust.filter(F.col("custkey") % 20 == 0)

    view = join_view(a_old, b_old, "custkey")
    delta = join_view_delta(a_old, b_old, da, db, "custkey")
    merged = merge_join_view(view, delta)
    return merged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


@query(
    "s22_deletion_propagation",
    group="S22",
    doc="Right-to-be-forgotten deletion "
        "(sources/layout.py:delete_bloom_keys): doomed doc_ids route to "
        "their key-hashed file groups by COMPUTING pmod(xxhash64(key)) "
        "— no scan locates them — the Bloom sidecar short-circuits "
        "definitely-absent keys (a replayed forget-me batch rewrites "
        "NOTHING), and only the touched groups rewrite in one dynamic-"
        "partition-overwrite job; their bitmaps are rebuilt from the "
        "survivors. The layout is rebuilt fresh each run (deletion is "
        "destructive), then three ids are deleted and two never-seen "
        "ids are requested; the oracle recomputes the surviving "
        "count/sum and pins that lookups of deleted keys return "
        "nothing.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(0 AS BIGINT) AS n_found_deleted
        FROM documents WHERE doc_id NOT IN (7, 123, 321)
    """,
)
def s22_deletion_propagation(spark, sf_dir):
    from hiero_spark.sources import layout

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = _export_dir("docs_bloom_delete")
    layout.save_bloom_indexed(spark, docs, path, "doc_id", n_files=16)
    layout.delete_bloom_keys(
        spark, path, [7, 123, 321, 10_000_000, 20_000_000]
    )
    # batched probe: one position job + one pruned read for
    # all three verification ids, instead of three of each
    n_found = layout.read_bloom_pruned_many(spark, path, [7, 123, 321]).count()
    return (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("n_found_deleted", F.lit(n_found).cast("long"))
    )


@query(
    "s23_compaction",
    group="S23",
    doc="Small-file compaction as a commit "
        "(sources/versioned.py:compact_version — the OPTIMIZE "
        "contract): four tiny appends then a compaction that swaps the "
        "small files for one packed file in a NEW manifest; data is "
        "the same rows (layout commit, not a data change), old "
        "versions still read their own files. Returns the pre- and "
        "post-compaction aggregate plus file counts; the oracle "
        "recomputes the aggregate from orders and pins the counts "
        "(4 appends of 1 file each -> 1 file).",
    oracle="""
        WITH base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                      AS BIGINT) AS sum_cents
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 2, 3)
        )
        SELECT 'before' AS stage, n_rows, sum_cents,
               CAST(4 AS BIGINT) AS n_files FROM base
        UNION ALL
        SELECT 'after' AS stage, n_rows, sum_cents,
               CAST(1 AS BIGINT) AS n_files FROM base
    """,
)
def s23_compaction(spark, sf_dir):
    import shutil

    from hiero_spark.sources import versioned as V

    path = _export_dir("orders_compaction")
    shutil.rmtree(path, ignore_errors=True)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    for r in range(4):
        V.commit_version(
            orders.filter(F.col("o_orderkey") % 4 == r).coalesce(1), path
        )
    pre_files = len(V._load_manifest(path, 3)["files"])
    pre = V.read_version(spark, path, 3).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    ).select(
        F.lit("before").alias("stage"), "n_rows", "sum_cents",
        F.lit(pre_files).cast("long").alias("n_files"),
    )
    stats = V.compact_version(spark, path, target_files=1)
    post = V.read_version(spark, path, stats["version"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    ).select(
        F.lit("after").alias("stage"), "n_rows", "sum_cents",
        F.lit(stats["new_files"]).cast("long").alias("n_files"),
    )
    return pre.unionByName(post)


@query(
    "s24_wap_commit",
    group="S24",
    doc="Write-Audit-Publish quality gate "
        "(sources/versioned.py:wap_commit): a staged commit is "
        "invisible to readers (manifest lands as staged.json, outside "
        "the v*.json glob), the declarative Checks report runs over "
        "the WOULD-BE version in one aggregation job, and only a clean "
        "audit publishes — the Iceberg WAP pattern as three metadata "
        "ops. Here a clean append publishes, then replaying the SAME "
        "batch trips the unique(doc_id) check and aborts; the oracle "
        "recomputes both audits' violation counts and the final row "
        "count from documents.",
    oracle="""
        WITH slice1 AS (
          SELECT COUNT(*) AS n1 FROM documents WHERE doc_id % 3 = 1
        ), base AS (
          SELECT COUNT(*) AS n0 FROM documents WHERE doc_id % 3 = 0
        )
        SELECT 'append' AS attempt, 'unique' AS chk, 'doc_id' AS col,
               CAST(0 AS BIGINT) AS n_viol, TRUE AS passed,
               CAST(n0 + n1 AS BIGINT) AS n_rows_after
        FROM slice1, base
        UNION ALL
        SELECT 'replay' AS attempt, 'unique' AS chk, 'doc_id' AS col,
               CAST(n1 AS BIGINT) AS n_viol, FALSE AS passed,
               CAST(n0 + n1 AS BIGINT) AS n_rows_after
        FROM slice1, base
    """,
)
def s24_wap_commit(spark, sf_dir):
    import shutil

    from hiero_spark.functions.checks import Checks
    from hiero_spark.sources import versioned as V

    path = _export_dir("docs_wap")
    shutil.rmtree(path, ignore_errors=True)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    V.commit_version(docs.filter(F.col("doc_id") % 3 == 0), path)
    batch = docs.filter(F.col("doc_id") % 3 == 1)

    rows = []
    for attempt in ("append", "replay"):
        res = V.wap_commit(spark, batch, path, Checks().unique("doc_id"))
        # a clean publish promotes exactly the audited file list, so the
        # audit job's observed row count IS the new version's count
        # (no separate full-version count job); after an abort
        # the table state is the PREVIOUS version — count that directly
        if res["published"]:
            n_after = res["n_rows_audited"]
        else:
            n_after = V.read_version(spark, path).count()
        r = res["report"][0]
        rows.append(
            (attempt, r["check"], r["column"], int(r["n_violations"]),
             bool(r["passed"]), int(n_after))
        )
    return spark.createDataFrame(
        rows,
        "attempt string, chk string, col string, n_viol long,"
        " passed boolean, n_rows_after long",
    )


@query(
    "s25_malformed_ingest",
    group="S25",
    doc="Malformed-row ingestion audit: NDJSON with 3 deterministically "
        "injected corrupt lines read in PERMISSIVE mode with a "
        "_corrupt_record column — real crawl feeds always carry broken "
        "lines, and silently dropping them (DROPMALFORMED) hides feed "
        "regressions. The pin: every valid row parses (count + key sum "
        "equal the pristine table), every corrupt line is accounted for "
        "(the literal 3 in the oracle), nothing is silently lost. "
        "Schema-explicit read, so the audit costs one scan.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
               CAST(3 AS BIGINT) AS n_corrupt,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        FROM nation
    """,
)
def s25_malformed_ingest(spark, sf_dir):
    from pyspark.sql.types import StringType

    nation = t(spark, sf_dir, "nation")
    path = _export_dir("nation_malformed")
    nation.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).json(path)
    with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
        fh.write('{"n_nationkey": oops}\n{broken\nnot json at all\n')
    schema = (
        nation.select("n_nationkey", "n_name", "n_regionkey")
        .schema.add("_corrupt_record", StringType())
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("n_nationkey"))).cast("long").alias("key_sum"),
    )
