"""Persist-handle registry: release cached intermediates at action boundaries.

Several operators persist() intermediates that feed multiple consumers inside
one query (MinHash signatures, LSH band rows — the diamond-plan rule in
SCALE.md). Because the operators return LAZY DataFrames, they cannot
unpersist before the caller's consuming action — so they register the
handles here, and callers release them once the result has been consumed.

Why this matters in a long-lived session (r2 advice): without release, every
invocation re-registers the same lineage ("Asked to cache already cached
data" warnings) and cached blocks accumulate for the life of the session.
The driver-contract wrapper (__spark_entry__.queries) releases at the start
of each query — by then the previous query's result has been collected —
restoring a zero-cached-block steady state between queries.

release_caches() is always SAFE, never required for correctness: unpersist
only drops cached blocks; a still-lazy consumer would simply recompute.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame

_HANDLES: List[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later release; returns it."""
    _HANDLES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked handle (non-blocking); returns the count."""
    n = 0
    while _HANDLES:
        _HANDLES.pop().unpersist()
        n += 1
    return n
