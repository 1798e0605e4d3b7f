"""Catalog schema memo (hiero_spark/catalog.py): the first load of a path
infers its parquet schema with a Spark job, later loads reuse it and run
none, and every load is still a fresh relation over the current files."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from hiero_spark.catalog import _fingerprint, load_table, table_path
from tests.conftest import SF_SMOKE


def _copy(tmp_path, name):
    shutil.copy(table_path(SF_SMOKE, name), table_path(str(tmp_path), name))
    return str(tmp_path)


def _jobs_in_group(spark, group, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    sf = _copy(tmp_path, "nation")
    first, n_first = _jobs_in_group(
        spark, "catalog-first", lambda: load_table(spark, sf, "nation")
    )
    second, n_second = _jobs_in_group(
        spark, "catalog-second", lambda: load_table(spark, sf, "nation")
    )
    assert n_first == 1
    assert n_second == 0
    assert second.schema == first.schema


def test_rewritten_file_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "nation")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, sf, "nation").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [0.5, 1.5, 2.5]}), path)
    df = load_table(spark, sf, "nation")
    assert df.columns == ["c"]
    assert sorted(r.c for r in df.collect()) == [0.5, 1.5, 2.5]


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    """A Spark-written table is a directory: its fingerprint covers every
    file under it, so an overwrite with another schema is seen."""
    sf = str(tmp_path)
    path = table_path(sf, "region")
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf, "region").columns == ["id"]
    spark.range(5).selectExpr("id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, sf, "region")
    assert df.columns == ["twice"]
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4, 6, 8]


def _region_sizes(sf):
    return (
        pq.read_table(table_path(sf, "nation"))
        .group_by("n_regionkey")
        .aggregate([("n_regionkey", "count")])
        .column("n_regionkey_count")
        .to_pylist()
    )


def test_self_join_of_two_loads_resolves(spark, tmp_path):
    """Only the schema is memoized: two loads are distinct relations, so
    a self-join's condition tells their columns apart."""
    sf = _copy(tmp_path, "nation")
    a = load_table(spark, sf, "nation")
    b = load_table(spark, sf, "nation")
    assert a.join(b, a.n_regionkey == b.n_regionkey).count() == sum(
        c * c for c in _region_sizes(sf)
    )
    # with one shared relation the inequality would compare a column with
    # itself and match nothing
    pairs = a.join(
        b, (a.n_regionkey == b.n_regionkey) & (a.n_nationkey < b.n_nationkey)
    ).count()
    assert pairs == sum(c * (c - 1) // 2 for c in _region_sizes(sf))


def test_events_ts_dtype_same_on_miss_and_hit(spark, tmp_path):
    sf = _copy(tmp_path, "events")
    miss = load_table(spark, sf, "events")
    hit = load_table(spark, sf, "events")
    assert hit.schema["ts"].dataType == miss.schema["ts"].dataType
    assert hit.select("ts").collect() == miss.select("ts").collect()


def test_remote_path_has_no_fingerprint():
    assert _fingerprint("hdfs://nn/sf/nation.parquet") is None
