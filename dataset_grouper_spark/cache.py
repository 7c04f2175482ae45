"""Tracked persist() for operator intermediates.

Several pair-generating operators persist an intermediate frame that is
consumed twice in the same plan (both sides of a self-join, join +
norms, ...). Spark has no scope hook to unpersist when the *returned*
plan is materialized, so a bare ``persist()`` leaks storage across
repeated invocations in a long-lived session (executor storage fills
with dead cached partitions).

This module keeps a registry of every intermediate the library
persists. Long-lived sessions (benchmark loops, notebook use, services)
call :func:`release_intermediates` between logical runs — it unpersists
only what this library cached, unlike ``spark.catalog.clearCache()``
which nukes user caches too. References must be strong: the Python
DataFrame wrapper usually goes out of scope when the operator returns,
while the JVM-side cached partitions it pinned live on.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

_PERSISTED: list[DataFrame] = []
_RELEASERS: list[Callable[[], None]] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register for later release_intermediates()."""
    df.persist()
    _PERSISTED.append(df)
    return df


def defer_release(fn: Callable[[], None]) -> None:
    """Register a release callback for storage ``unpersist()`` can't
    reach (e.g. a checkpointed Dataset's backing RDD — iterative
    operators return a frame whose final round must stay materialized
    until the caller consumes it, so its release has to be deferred to
    the same between-runs hook as the persisted intermediates)."""
    _RELEASERS.append(fn)


def release_intermediates() -> int:
    """Unpersist every intermediate this library persisted; returns
    how many were released.

    Call this only BETWEEN logical runs, after results are consumed.
    Frames returned by iterative operators (``connected_components``,
    ``embedding_neardup_clusters``) are backed by checkpoint blocks
    with truncated lineage: they cannot be recomputed, so any action on
    a retained result AFTER this call fails with a missing-block error.
    Collect or write such results out first."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            _log.warning("could not unpersist an intermediate", exc_info=True)
    while _RELEASERS:
        fn = _RELEASERS.pop()
        try:
            fn()
            n += 1
        except Exception:
            _log.warning("deferred release %r failed", fn, exc_info=True)
    return n
