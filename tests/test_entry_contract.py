"""The driver entry exposes every registered query and every oracle, in
registration order. No Spark session needed: only the dicts are read."""

import importlib.util
from pathlib import Path

from hiero_spark.registry import all_queries


def _entry():
    path = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_list_every_registered_query_in_order():
    qs = _entry().queries()
    assert list(qs) == list(all_queries())
    assert all(callable(fn) for fn in qs.values())


def test_oracle_sql_is_every_registered_oracle_in_order():
    expected = {n: s.oracle for n, s in all_queries().items() if s.oracle is not None}
    got = _entry().oracle_sql()
    assert got == expected
    assert list(got) == list(expected)
