"""Scan parallelism over multi-file fixtures.

The shipped testdata is one row group per table (scans = 1 task); these
tests rewrite sf0.01 as 8 files per table and prove (a) scans actually
split, (b) results are identical to the single-file read.
"""

import pytest
from pyspark.sql import functions as F

from hiero_spark.catalog import load_table
from hiero_spark.sources.fixtures import materialize_multifile
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def multi_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("multirg") / "sf0.01")
    return materialize_multifile(spark, SF_ORACLE, out, files_per_table=8)


def test_multifile_scan_splits(spark, multi_dir):
    li = load_table(spark, multi_dir, "lineitem")
    assert li.rdd.getNumPartitions() > 1


def test_multifile_results_match_single_file(spark, multi_dir):
    def agg(sf_dir):
        return {
            tuple(r)
            for r in load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            )
            .collect()
        }

    assert agg(multi_dir) == agg(SF_ORACLE)


def test_multifile_events_timestamp_roundtrip(spark, multi_dir):
    ev_multi = load_table(spark, multi_dir, "events")
    ev_single = load_table(spark, SF_ORACLE, "events")
    assert ev_multi.schema["ts"].dataType == ev_single.schema["ts"].dataType
    a = ev_multi.agg(F.min("ts"), F.max("ts"), F.count(F.lit(1))).collect()[0]
    b = ev_single.agg(F.min("ts"), F.max("ts"), F.count(F.lit(1))).collect()[0]
    assert tuple(a) == tuple(b)
