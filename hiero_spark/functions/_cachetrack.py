"""Tracked operator-internal persists (round-9 ADVICE).

Several multi-consumer operators (set-similarity joins, MinHash LSH)
persist an internal DataFrame because 3-4 downstream consumers would
otherwise recompute the CPU-dominant shingle/signature chain per
consumer (measured 154 s -> 68 s at the 1M-doc skew corpus).  The
persist is load-bearing, but the frames are created inside operator
calls the caller never sees — a long-lived driver (server.py) would
accumulate MEMORY_AND_DISK caches forever.

Every such persist registers here; `release_caches()` unpersists the
backlog.  Safe to call at any time: an in-flight consumer of a released
frame just recomputes.  server.py calls it per /api/query request;
bench.py calls it before every timed rep; ad-hoc sessions may also use
`spark.catalog.clearCache()`, which releases these frames too (at the
cost of every OTHER cache in the session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    _LIVE.append(df.persist())
    return df


def live_count() -> int:
    """How many tracked frames are currently registered — a non-zero
    count after a query marks it persist-bearing."""
    return len(_LIVE)


def release_caches() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
