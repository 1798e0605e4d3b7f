"""Z-order data layout + footer-statistics file skipping — partition
pruning without a partition column (SURVEY.md §2.1 S10 extension).

Directory partitioning (`save_view(partition_by=...)`) prunes on ONE
low-cardinality column.  Range-sorting the write prunes on the sort
column only: every file then spans the FULL range of every other column,
so a predicate on a second dimension reads everything.  Interleaving the
bits of two rank-bucketed columns into a Z-value and range-partitioning
the write on it gives every file a tight min/max rectangle in BOTH
dimensions — the layout Delta Lake's OPTIMIZE ZORDER BY and Databricks
liquid clustering build, reconstructed from public primitives:

- `zorder_key`: pure Catalyst bit arithmetic (scale each column to a
  `bits`-wide rank, interleave with shift/or) — codegen'd, no UDF.
- `save_zordered`: repartitionByRange on the Z-key + sortWithinPartitions
  then parquet.  One terasort-shaped shuffle at write time.
- `read_pruned`: the reader-side payoff.  Parquet footers already carry
  per-column min/max; the driver reads ONLY footers (pyarrow, metadata
  bytes — no row data), drops every file whose [min,max] box misses the
  predicate rectangle, and hands Spark the surviving file list.  The
  exact predicate still applies after the scan, so pruning is purely an
  I/O optimization — correctness never depends on the stats.

At 100 TB the footer pass is one driver-side listing of file metadata
(the same object stores serve in a HEAD-request storm; production would
cache it a la Delta's transaction log) and the scan reads the few files
whose rectangle intersects the query — measured below as 4/16 files for
a 2-D rectangle that a single-column sort layout reads 16/16 for
(tests/test_zorder.py pins both numbers).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def _rank_bucket(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Scale a numeric column to an integer in [0, 2^bits): the per-column
    rank the Z-curve interleaves.  Degenerate ranges (hi == lo) map to 0."""
    span = hi - lo
    if span <= 0:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
    top = (1 << bits) - 1
    return F.least(
        F.greatest((scaled * top).cast("long"), F.lit(0)), F.lit(top)
    )


def zorder_key(
    ranked: list[Column], bits: int = 10
) -> Column:
    """Interleave the bits of pre-ranked columns into one Z-value.

    For d columns, rank bit i of column j lands at Z bit (i*d + j) — the
    standard Morton interleave generalized to d dimensions.  2*bits*d
    shift/and/or terms, all whole-stage-codegen."""
    d = len(ranked)
    z = F.lit(0).cast("long")
    for j, r in enumerate(ranked):
        for i in range(bits):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(bit, i * d + j)
            )
    return z


def save_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 10,
) -> None:
    """Write `df` as parquet clustered on the Z-curve over `cols`.

    One stats pass finds each column's [min,max] (production layouts
    reuse catalog stats), one range shuffle orders the corpus by Z-value,
    and sortWithinPartitions tightens per-row-group stats inside each
    file.  File count = write parallelism = later pruning granularity."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    ranked = [
        _rank_bucket(F.col(c), stats[f"_lo{i}"], stats[f"_hi{i}"], bits)
        for i, c in enumerate(cols)
    ]
    z = zorder_key(ranked, bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def prune_files(
    path: str, ranges: dict[str, tuple[float, float]]
) -> tuple[list[str], int]:
    """Footer-stats file skipping: return (surviving files, total files).

    A file survives iff for EVERY predicate column its [min,max] spans
    intersect the requested [lo,hi].  Missing statistics keep the file
    (never prune on absent evidence).  Only footers are read — metadata
    bytes, no row groups."""
    import pyarrow.parquet as pq

    files = sorted(_glob.glob(f"{path}/part-*.parquet"))
    kept = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(j).name: j for j in range(md.num_columns)}
        alive = True
        for col, (lo, hi) in ranges.items():
            j = names.get(col)
            if j is None:
                continue
            fmin = fmax = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(j).statistics
                if st is None or not st.has_min_max:
                    fmin = fmax = None
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is None:
                continue
            if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
                alive = False
                break
        if alive:
            kept.append(f)
    return kept, len(files)


def read_pruned(
    spark: SparkSession, path: str, ranges: dict[str, tuple[float, float]]
) -> DataFrame:
    """Read only the files whose stats rectangle intersects `ranges`, then
    apply the exact predicate (pruning is I/O-only; stats never decide
    row membership).  An empty survivor set yields an empty DataFrame
    with the layout's schema."""
    kept, _total = prune_files(path, ranges)
    if not kept:
        return spark.read.parquet(path).limit(0).filter(F.lit(False))
    df = spark.read.parquet(*kept)
    for col, (lo, hi) in ranges.items():
        df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return df


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Small-file compaction — the standing operational task of any
    landing zone (streaming sinks, per-task writers, and hourly drops
    leave thousands of KB-scale files; every future scan then pays one
    task + one footer + one open per file).

    Sizing is metadata-only: sum the source parquet file sizes from the
    footers' serialized byte counts (no data read), target
    ceil(total/target_file_bytes) outputs, then one repartition write.
    Rows are untouched — compaction is layout-only, so a read-back
    equals the source (oracle-checked).  Returns the audit dict
    {files_in, files_out, bytes_in}.  At 100 TB this runs per partition
    directory behind the scenes of a table-format OPTIMIZE; here it is
    the explicit primitive."""
    import os

    files = sorted(_glob.glob(f"{src_path}/part-*.parquet"))
    bytes_in = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-bytes_in // target_file_bytes))
    df = spark.read.parquet(src_path)
    df.repartition(n_out).write.mode("overwrite").parquet(dst_path)
    files_out = len(_glob.glob(f"{dst_path}/part-*.parquet"))
    return {"files_in": len(files), "files_out": files_out, "bytes_in": bytes_in}


def export_training_shards(df, dst_path: str, id_col: str, n_shards: int = 8):
    """Export a curated dataset as deterministic training shards with a
    manifest — the hand-off format between the data pipeline and the
    training loader (each loader worker claims whole shards; the
    manifest is the contract it validates against).

    Shard = pmod(id, n_shards): SQL-oracle-mirrorable, the split
    assign_split makes. Membership is a pure function of the id: stable
    under reruns and independent of physical layout, so re-exports
    reproduce byte-wise identical shard MEMBERSHIP (loaders can resume
    by shard id). One
    repartition on the shard key, partitionBy write (dynamic partition
    dirs shard=N/), then a metadata-only manifest pass: per shard, row
    count and id span read back from the written files — the manifest
    describes what is ON DISK, not what was intended.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    sharded = df.withColumn("shard", F.pmod(F.col(id_col), F.lit(n_shards)))
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(dst_path)
    )
    return (
        spark.read.parquet(dst_path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .orderBy("shard")
    )


def upsert_partitioned(
    spark,
    table_path: str,
    changes,
    key_col: str,
    part_col: str,
    delete_col: str = "_delete",
):
    """MERGE-INTO emulation for plain parquet (no table format):
    copy-on-write upsert touching ONLY the partitions that contain
    changed keys.

    The change set (rows to upsert, plus delete_col=true rows to
    remove) names its partitions; the merge reads JUST those partitions
    (partition-pruned scan), anti-joins the changed keys out, unions the
    surviving upserts in, and rewrites with dynamic partition overwrite
    — every other partition's files are untouched bytes (asserted in
    tests by mtime+size). At 100 TB this is the difference between a
    merge costing O(changed partitions) and a full-table rewrite; it is
    the manual form of what Delta/Iceberg MERGE does with metadata.

    Changes within one batch must be key-unique (last-writer semantics
    inside a batch are not defined here — pre-aggregate upstream).

    Affected partitions are the union of (a) the partitions the change
    rows name and (b) the partitions the changed keys CURRENTLY occupy
    in the base table — an update may move a key across partitions, and
    without (b) the old partition would keep a stale copy. Finding (b)
    is a key+partition column scan semi-joined against the broadcast
    change keys — column-pruned, no data columns read; with a
    partition-aligned key design (key embeds the partition) or footer
    min/max on the key column the scan prunes further, which is exactly
    the metadata lookup table formats do here.
    """
    from pyspark.sql import Observation, functions as F

    changed_keys = changes.select(key_col).distinct()
    # the named and currently-occupied partitions come from ONE job: one
    # distinct union of partition values, not two separate collects (two
    # driver round-trips, two plans)
    parts = sorted(
        {
            r[0]
            for r in changes.select(part_col)
            .union(
                spark.read.parquet(table_path)
                .select(key_col, part_col)
                .join(F.broadcast(changed_keys), key_col, "left_semi")
                .select(part_col)
            )
            .distinct()
            .collect()
        }
    )
    base = spark.read.parquet(table_path).filter(F.col(part_col).isin(parts))
    survivors = base.join(changed_keys, key_col, "left_anti")
    upserts = changes.filter(~F.col(delete_col)).drop(delete_col)
    # dynamic overwrite only touches partitions PRESENT in the output: a
    # partition whose every row was deleted writes nothing and would keep
    # its old files — clear those directories explicitly.  The present
    # set rides the write as an Observation, so the affected partitions
    # are scanned once (a distinct-collect job before the write would
    # scan them twice).
    obs = Observation()
    merged = survivors.unionByName(upserts).observe(
        obs, F.collect_set(part_col).alias("present")
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(table_path)
    )
    present = set(obs.get["present"])
    import shutil

    emptied = [p for p in parts if p not in present]
    for p in emptied:
        shutil.rmtree(f"{table_path}/{part_col}={p}", ignore_errors=True)
    return {"partitions_rewritten": len(parts), "partitions_emptied": len(emptied)}


def _prefix_successor(prefix: str) -> str | None:
    """Smallest string greater than EVERY string with this prefix, or None
    when no such string exists (prefix is all U+10FFFF).  Increment the
    last code point, carrying by dropping maxed trailing characters."""
    cps = [ord(c) for c in prefix]
    while cps:
        if cps[-1] < 0x10FFFF:
            cps[-1] += 1
            return "".join(chr(c) for c in cps)
        cps.pop()
    return None


def read_prefix_pruned(
    spark: SparkSession, path: str, col: str, prefix: str
) -> DataFrame:
    """String-prefix file skipping: `col LIKE 'prefix%'` as an I/O bound.

    The row range of a prefix predicate is [prefix, succ(prefix)) where
    succ increments the prefix's last code point (carrying on overflow):
    any string starting with the prefix first differs from succ at that
    incremented position, so it sorts strictly below succ.  A prefix+
    sentinel upper bound is NOT safe — strings like
    prefix+'\\uffff'+more or prefix+U+1F600 sort above prefix+U+FFFF and
    would be lost.  Parquet footer min/max for string columns compare
    lexicographically, so `prune_files` works on string stats (truncated
    stats stay safe: writers truncate min downward and max upward, so
    the file interval only widens).  Survivor files then apply the exact
    startswith predicate; pruning never decides row membership.  The
    string twin of the numeric Z-order path: sort-by-column layouts get
    LIKE-prefix scans bounded by the files whose name range intersects.
    """
    kept, _total = prune_files(path, {col: (prefix, _prefix_successor(prefix))})
    if not kept:
        return spark.read.parquet(path).limit(0).filter(F.lit(False))
    return spark.read.parquet(*kept).filter(F.col(col).startswith(prefix))


# --- Bloom-filter file skipping ------------------------------------------


def save_bloom_indexed(
    spark: SparkSession,
    df,
    path: str,
    key_col: str,
    n_files: int = 16,
    m_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> dict:
    """Write `df` in `n_files` key-hashed file groups, each carrying a
    Bloom bitmap over its keys in a `_blooms.json` sidecar.

    The footer-stats pruners above (numeric range, string prefix) need
    the layout SORTED on the predicate column; a Bloom sidecar is the
    equality-predicate complement that works on ANY layout — the same
    role as Parquet's optional bloom_filter pages or Iceberg's puffin
    files, vendored here as explicit metadata.

    Build is one distributed pass: every key explodes its k bit
    positions tagged with its file group, then ONE groupBy((grp, word))
    bit_or — partial aggregation ORs words map-side, so the shuffle is
    O(n_files x m_bits/64) words regardless of row count. The sidecar
    holds hex-encoded words only for non-zero positions (sparse).

    Probing (`read_bloom_pruned_many`) needs the identical hash family;
    the positions column expression is shared, and the probe computes
    the values' positions through the SAME JVM expression (a
    1-row-per-value select), never a Python reimplementation that could
    drift.
    """
    import json as _json

    grp = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_files))
    # ONE scan of the source: the grouped write and the bloom-word
    # aggregation both consume the post-shuffle staged frame, so the
    # source is read once and the (key, group) hash is computed once
    # rather than re-scanning `df` and re-running the hash for the
    # words pass.
    staged = df.withColumn("_grp", grp).repartition(n_files, "_grp").persist()
    (
        staged.write.mode("overwrite")
        .partitionBy("_grp")
        .parquet(path)
    )
    from hiero_spark.functions.bloom import _positions

    words = (
        staged.select(
            F.col("_grp").alias("g"),
            F.explode(_positions(F.col(key_col), m_bits, n_hashes)).alias("p"),
        )
        .select(
            "g",
            F.shiftright("p", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("g", "w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    staged.unpersist()
    blooms: dict[str, dict[str, str]] = {}
    for r in words:
        blooms.setdefault(str(r["g"]), {})[str(r["w"])] = format(
            r["word"] & 0xFFFFFFFFFFFFFFFF, "x"
        )
    sidecar = {
        "key_col": key_col,
        "n_files": n_files,
        "m_bits": m_bits,
        "n_hashes": n_hashes,
        "blooms": blooms,
    }
    with open(os.path.join(path, "_blooms.json"), "w") as fh:
        _json.dump(sidecar, fh)
    return sidecar


def _load_blooms(path: str) -> dict:
    """The `_blooms.json` sidecar `save_bloom_indexed` wrote at `path`."""
    import json as _json

    with open(os.path.join(path, "_blooms.json")) as fh:
        return _json.load(fh)


def _bloom_maybe(wordmap: dict, positions) -> bool:
    """True when every bit position is set in a group's sparse hex word
    map: the key may be in that group (never a false negative)."""
    return all(
        (int(wordmap.get(str(p >> 6), "0"), 16) >> (p & 63)) & 1
        for p in positions
    )


def read_bloom_pruned_many(spark: SparkSession, path: str, values) -> DataFrame:
    """Equality lookup for a list of probe values bounded by the Bloom
    sidecar: read ONLY the file groups whose bitmap reports 'maybe' for
    at least one value, then apply the exact `isin` predicate (no false
    negatives => pruning never loses a row; false positives only cost
    extra I/O, and extra groups admitted by another value's bloom
    contribute nothing).  For a point lookup the expected survivor count
    is 1 + (n_files-1) x fp_rate.  The probe positions for every value
    come from ONE 1-row-per-value Spark job and the surviving groups are
    read in ONE pruned scan.

    Probe values ride as strings and are cast to the stored key
    column's exact type before hashing: xxhash64 is type-sensitive (INT
    7 and BIGINT 7 hash differently), so an uncast Python int probing a
    BIGINT column would silently miss every group — a false negative
    the cast rules out by making the probe expression identical to the
    build's."""
    sc = _load_blooms(path)
    from hiero_spark.functions.bloom import _positions

    key_col, m_bits, n_hashes = sc["key_col"], sc["m_bits"], sc["n_hashes"]
    base = spark.read.parquet(path)
    key_type = base.schema[key_col].dataType
    vdf = spark.createDataFrame([(str(v),) for v in values], "k string")
    lit = F.col("k").cast(key_type)
    probes = vdf.select(
        lit.alias("key"), _positions(lit, m_bits, n_hashes).alias("p")
    ).collect()
    survivors = sorted(
        int(g)
        for g, wordmap in sc["blooms"].items()
        if any(_bloom_maybe(wordmap, r["p"]) for r in probes)
    )
    if not survivors:
        return base.limit(0).filter(F.lit(False))
    typed = [r["key"] for r in probes]
    pruned = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f"_grp={g}") for g in survivors]
    )
    return pruned.filter(F.col(key_col).isin(typed)).drop("_grp")


def delete_bloom_keys(spark: SparkSession, path: str, keys: list) -> dict:
    """Targeted key deletion (the right-to-be-forgotten path) over a
    `save_bloom_indexed` layout — rewrite ONLY the file groups that can
    contain a doomed key; every other group's bytes never move.

    Two layout properties make this O(touched groups), not O(table):

    * the layout is KEY-HASHED, so each key's group is COMPUTED
      (pmod(xxhash64(key), n_files)) — unlike `upsert_partitioned`,
      which must scan key+partition columns to locate changed keys,
      no scan at all is needed to route a deletion;
    * the Bloom sidecar short-circuits keys that are definitely absent
      — a delete request full of never-seen keys (common in forget-me
      batches replayed across shards) rewrites NOTHING.

    All touched groups rewrite in ONE job (broadcast anti-join +
    dynamic partition overwrite); groups whose every row died write
    nothing under dynamic overwrite, so their directories are cleared
    explicitly (the upsert_partitioned lesson). Bloom bits can't be
    unset, so touched groups' bitmaps are REBUILT from the survivors
    in one more job and the sidecar is rewritten; untouched groups
    keep their stored words verbatim.

    `keys` is a driver-side list (bounded — a forget-me batch); for
    delete sets beyond driver memory, route through
    `upsert_partitioned` with delete rows instead.
    """
    import json as _json
    import shutil

    sc = _load_blooms(path)
    from hiero_spark.functions.bloom import _positions

    key_col, m_bits, n_hashes = sc["key_col"], sc["m_bits"], sc["n_hashes"]
    n_files = sc["n_files"]
    base_all = spark.read.parquet(path)
    key_type = base_all.schema[key_col].dataType

    # keys ride as strings and CAST to the stored column's exact type,
    # so the hash expression matches the build's (int/string keys only)
    kdf = spark.createDataFrame([(str(k),) for k in keys], "k string")
    lit = F.col("k").cast(key_type)
    routed = kdf.select(
        lit.alias("key"),
        F.pmod(F.xxhash64(lit), F.lit(n_files)).alias("g"),
        _positions(lit, m_bits, n_hashes).alias("p"),
    ).collect()

    live = [
        r for r in routed
        if _bloom_maybe(sc["blooms"].get(str(r["g"]), {}), r["p"])
    ]
    touched = sorted({r["g"] for r in live})
    live_keys = [r["key"] for r in live]
    if not touched:
        return {
            "groups_total": n_files, "groups_rewritten": 0,
            "rows_deleted": 0, "keys_skipped_by_bloom": len(keys),
        }

    doomed = spark.createDataFrame(
        [(str(k),) for k in live_keys], "k string"
    ).select(F.col("k").cast(key_type).alias(key_col))
    # ONE job rewrites the touched groups AND reports every statistic
    # the sidecar update needs: the dead-row count, the survivor count,
    # and the set of groups that still hold rows all ride the write as
    # Observations, so the touched groups are scanned once (separate
    # count and distinct-collect jobs would each scan them again).
    from pyspark.sql import Observation

    obs_sub = Observation()
    obs_sur = Observation()
    sub = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f"_grp={g}") for g in touched]
    ).observe(obs_sub, F.count(F.lit(1)).alias("n_before"))
    survivors = sub.join(F.broadcast(doomed), key_col, "left_anti").observe(
        obs_sur,
        F.count(F.lit(1)).alias("n_after"),
        F.collect_set("_grp").alias("present"),
    )
    (
        survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_grp")
        .parquet(path)
    )
    n_before = int(obs_sub.get["n_before"])
    n_after = int(obs_sur.get["n_after"])
    present = {int(g) for g in obs_sur.get["present"]}
    # rebuild touched groups' bitmaps from the files the write just
    # produced — a column-pruned (key only) read of exactly the
    # touched survivors, instead of re-running the anti-join
    rebuild_dirs = [
        os.path.join(path, f"_grp={g}") for g in sorted(present & set(touched))
    ]
    words = []
    if rebuild_dirs:
        words = (
            spark.read.option("basePath", path).parquet(*rebuild_dirs)
            .select(
                F.col("_grp").alias("g"),
                F.explode(
                    _positions(F.col(key_col), m_bits, n_hashes)
                ).alias("p"),
            )
            .select(
                "g",
                F.shiftright("p", 6).alias("w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
                ).alias("b"),
            )
            .groupBy("g", "w")
            .agg(F.bit_or("b").alias("word"))
            .collect()
        )
    for g in touched:
        sc["blooms"].pop(str(g), None)
        if g not in present:
            shutil.rmtree(os.path.join(path, f"_grp={g}"), ignore_errors=True)
    for r in words:
        sc["blooms"].setdefault(str(r["g"]), {})[str(r["w"])] = format(
            r["word"] & 0xFFFFFFFFFFFFFFFF, "x"
        )
    with open(os.path.join(path, "_blooms.json"), "w") as fh:
        _json.dump(sc, fh)
    return {
        "groups_total": n_files,
        "groups_rewritten": len(touched),
        "rows_deleted": n_before - n_after,
        "keys_skipped_by_bloom": len(keys) - len(live_keys),
    }
