"""The bench stdout contract: ONE JSON line a consumer can always parse.

A consumer that keeps only a 2000-byte tail of bench.py's stdout
json-parses the last line, so the line must stay small: per-query build
and total times live in BENCH_DETAIL.json, and the line carries only
scalars plus the `queries` map.
"""

import json
import os
import subprocess
import sys

import pytest

import bench
from hiero_spark.registry import all_queries

TAIL_BYTES = 2000
KEYS = {"metric", "value", "unit", "queries", "sf", "cpus", "n_reps",
        "estimator", "timing_basis", "detail_file"}


def _check_line(line: str, names) -> dict:
    obj = json.loads(line)
    assert set(obj) == KEYS
    assert list(obj["queries"]) == list(names)
    assert obj["value"] == round(sum(obj["queries"].values()), 3)
    assert obj["unit"] == "sec" and obj["estimator"] == "min"
    assert obj["n_reps"] == bench.N_REPS
    assert obj["timing_basis"] == bench.TIMING_BASIS
    assert [k for k, v in obj.items() if isinstance(v, dict)] == ["queries"]
    return obj


def _line(names, sf=0.1, cpus=32) -> str:
    """The real stdout line for `names`, each at a 5-digit timing (the
    longest a minute-long query prints)."""
    timings = {name: round(12.345 + i / 1000, 3) for i, name in enumerate(names)}
    return bench.stdout_line(timings, sf, cpus)


def test_stdout_line_fits_driver_tail():
    """The headline line leaves 100 bytes of a 2000-byte tail for stderr
    noise, and keeps fitting out to 36 queries named as long as the
    registry's longest name."""
    line = _line(bench.HEADLINE)
    assert len(line.encode()) < TAIL_BYTES - 100
    longest = max(len(n) for n in all_queries())
    names = [f"{i:02d}".rjust(longest, "x") for i in range(36)]
    assert len(_line(names).encode()) < TAIL_BYTES


def test_bench_emits_no_bulky_maps_on_stdout():
    """The line parses, carries exactly the scalar keys plus the
    `queries` map, and `value` is the sum of that map."""
    obj = _check_line(_line(bench.HEADLINE), bench.HEADLINE)
    assert obj["sf"] == 0.1 and obj["cpus"] == 32


def test_headline_names_are_registered_and_unique():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 31
    assert not set(bench.HEADLINE) - set(all_queries())


def test_import_starts_no_spark():
    """The pyspark imports live inside main(): importing bench (as these
    tests do) loads no Spark at all."""
    code = "import sys, bench; assert 'pyspark' not in sys.modules"
    root = os.path.join(os.path.dirname(__file__), os.pardir)
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)


@pytest.mark.slow
def test_main_end_to_end(monkeypatch, capsys, tmp_path, sf_dir):
    """bench.main() in-process at the smoke scale: the last stdout line covers
    every headline query, and the detail file's build time never exceeds
    the total for the same rep."""
    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    bench.main()
    last = capsys.readouterr().out.strip().splitlines()[-1]
    obj = _check_line(last, bench.HEADLINE)
    assert obj["sf"] == 0.001  # parsed from the sf_dir name
    assert obj["detail_file"] == os.path.basename(str(detail))
    rec = json.loads(detail.read_text())
    assert set(rec) == {"sf", "cpus", "queries"}
    assert list(rec["queries"]) == bench.HEADLINE
    for name, t in rec["queries"].items():
        assert 0 <= t["build_s"] <= t["total_s"], name
        assert t["total_s"] == obj["queries"][name], name
