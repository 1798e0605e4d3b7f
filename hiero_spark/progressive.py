"""Progressive partial results (SURVEY.md §4.3 option 2, §7.1 item 7).

hiero's defining interaction model streams `PartialResult`s — (fraction
done, partial sketch value) pairs that refine on screen
(dataset/api/PartialResult.java, (H)). Spark actions are all-or-nothing,
so progressiveness is emulated as an incremental sequence of jobs over
deterministic hash-slices of the input, exploiting the fact that every
sketch in this engine is a mergeable aggregation (the same monoid property
hiero's tree-merge relies on).

Two shapes:

- `progressive_prefix`: tier i recomputes the sketch over the first
  (i+1)/tiers of the data. Each emission is an exact sketch of a known
  fraction; the last tier IS the exact full answer. Cost: ~tiers/2 extra
  scans — fine interactively when the first paint matters more than total
  work, and each tier's scan still prunes columns/filters normally.

- `progressive_merge`: each 1/tiers slice is sketched once and the partial
  DataFrames are merged (union + re-aggregate — the caller's merge_fn is
  the monoid ⊕). Total work ≈ one full scan, like hiero. Emissions carry
  the merged-so-far value.

Slicing is `pmod(xxhash64(key...), tiers)` — deterministic, uniform, and
a pure narrow predicate (no shuffle, pushable next to the scan).
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame, functions as F


def _tier_pred(key_cols: list[str], tiers: int, i: int, exact: bool):
    h = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(tiers))
    return (h == i) if exact else (h <= i)


def progressive_prefix(
    df: DataFrame,
    sketch_fn: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    tiers: int = 4,
) -> Iterator[tuple[float, DataFrame]]:
    """Yield (fraction, exact sketch over that fraction); the final pair is
    (1.0, exact full result)."""
    for i in range(tiers):
        if i == tiers - 1:
            yield 1.0, sketch_fn(df)  # no predicate: full input, exact
        else:
            part = df.filter(_tier_pred(key_cols, tiers, i, exact=False))
            yield (i + 1) / tiers, sketch_fn(part)


def progressive_merge(
    df: DataFrame,
    partial_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    tiers: int = 4,
) -> Iterator[tuple[float, DataFrame]]:
    """Yield (fraction, merge of the partials so far). Each row is sketched
    exactly once across all tiers; merge_fn re-aggregates the union of
    partial outputs (the monoid merge). The final emission equals the
    whole-input sketch when partial_fn/merge_fn form a proper monoid.

    Each partial is persisted when it first computes: Spark unions are
    lazy, so without the persist tier i re-executed all i prior slice
    scans and total work was the same O(tiers²/2) slices as
    progressive_prefix — the one-scan claim holds only because the
    (bounded, sketch-sized) partials are cached while the stream runs.
    The partials are unpersisted when the generator finishes or is
    closed, so collect each emission before advancing; a caller that
    stops early must `close()` the generator to release them."""
    merged: DataFrame | None = None
    parts: list[DataFrame] = []
    try:
        for i in range(tiers):
            part = partial_fn(
                df.filter(_tier_pred(key_cols, tiers, i, exact=True))
            ).persist()
            parts.append(part)
            merged = part if merged is None else merged.unionByName(part)
            yield (i + 1) / tiers, merge_fn(merged)
    finally:
        for part in parts:
            part.unpersist()
