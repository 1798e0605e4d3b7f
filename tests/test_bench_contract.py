"""The bench stdout contract: ONE JSON line the driver can always parse.

The driver records only a 2000-byte TAIL of bench.py's stdout and
json-parses the last line.  Round 10's line grew past that window
(queries + queries_calibrated ≈ 1.8 KB of payload) and the driver
recorded "parsed": null — a silent loss of the round's headline number.
Bulky per-query maps now live in BENCH_DETAIL.json; these tests pin the
stdout line's size budget and the tail-recovery fallback so neither
regresses.
"""

import json
import os
import re

DRIVER_TAIL_BYTES = 2000
BENCH_PY = os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")


def _line_for(n_queries: int) -> str:
    """Reconstruct the stdout line's shape for a headline set of
    n_queries (names sized like the real registry's longest) — the
    round-15 shape: cpus + nocache_total + positional task_counts +
    the v2 calibration scalar + the frozen timing_basis tag."""
    queries = {
        f"n6_decontamination_hashed_{i:02d}": round(0.123 + i / 997, 3)
        for i in range(n_queries)
    }
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 21.785,
            "unit": "sec",
            "cpus": 32,
            "nocache_total": 24.131,
            "queries": queries,
            "task_counts": [100 + 7 * i for i in range(n_queries)],
            "sf": 0.1,
            "n_reps": 2,
            "estimator": "min",
            "calibration_sec": 0.081,
            "calibration_spark_sec": 0.412,
            "calibration_spark_v2_sec": 3.2756,
            "common_subset_ratio": 0.678,
            "common_subset_ratio_calibrated": 0.912,
            "calibration_basis": "spark_fixed_job_v2",
            "timing_basis": "per_query_grouped_release_r14",
            "multifile_total": 23.955,
            "detail_file": "BENCH_DETAIL.json",
        }
    )


def test_stdout_line_fits_driver_tail():
    """31 headline queries today; the round-15 additions (cpus,
    nocache_total, positional task_counts) cost ~190 bytes at 31
    queries, and bench.py guards the budget at runtime: a line longer
    than 1700 bytes sheds task_counts (kept in BENCH_DETAIL.json) and
    re-serializes.  This test pins (a) today's worst-case-name model
    fits the raw window with margin, (b) the post-shed shape keeps
    fitting out to 40 queries, and (c) the 1700 guard exists in the
    source.  The bench also suppresses console progress bars (~550
    bytes of stderr redraw noise in the r14 tail capture), so the
    effective window the line competes for got LARGER this round."""
    assert len(_line_for(31)) < DRIVER_TAIL_BYTES - 100
    # post-shed headroom to 36 worst-case-name queries (the real r15
    # line measures 1553 bytes WITH task_counts — this model inflates
    # every name to the registry's longest); headline growth beyond
    # that is a deliberate policy change that must revisit the budget
    shed = json.loads(_line_for(36))
    shed.pop("task_counts")
    assert len(json.dumps(shed)) < DRIVER_TAIL_BYTES - 56
    src = open(BENCH_PY).read()
    assert "if len(line) > 1700:" in src
    assert 'line_obj.pop("task_counts", None)' in src


def test_bench_emits_no_bulky_maps_on_stdout():
    """The per-query calibrated map and common-subset detail belong in
    BENCH_DETAIL.json; their reappearance on the stdout line is exactly
    the r10 overflow."""
    src = open(BENCH_PY).read()
    # the detail-file dump must carry them ...
    detail = src.split('json.dump(')[1]
    assert '"queries_calibrated": queries_calibrated' in detail
    # ... and the stdout print must not
    stdout_obj = src.split("print(")[-1]
    assert '"queries_calibrated"' not in stdout_obj
    assert '"common_subset": common_subset' not in stdout_obj


def test_tail_recovery_regex_matches_r10_shape():
    """The fallback that reconstructs a truncated round's queries from
    the driver tail: a name cut at the tail boundary has no opening
    quote and must be skipped, not misread as a short name."""
    tail = (
        'enue": 0.362, "q10_returned_items": 1.21, "a8_heavy_hitters": '
        '0.359}, "sf": 0.1, "n_reps": 2, "calibration_sec": 0.109, '
        '"queries_calibrated": {"q1_pricing_summary": 3.1}}'
    )
    m = re.search(r'"queries": \{', tail)
    qfrag = tail[m.end():] if m else tail
    stop = qfrag.find("}")
    qpart = qfrag[:stop] if stop != -1 else qfrag
    pairs = dict(re.findall(r'"([a-z0-9_]+)": ([0-9.]+)', qpart))
    assert pairs == {"q10_returned_items": "1.21", "a8_heavy_hitters": "0.359"}
    assert "enue" not in pairs  # truncated name skipped
    calm = re.search(r'"calibration_sec": ([0-9.]+)', tail)
    assert calm and float(calm.group(1)) == 0.109
