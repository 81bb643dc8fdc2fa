"""Session-wide registry of per-call persisted relations.

Round-10 added ~12 operator-internal ``.persist()`` calls (shared
subtrees that a self-join or multi-branch consumer would otherwise
re-evaluate — guide §5).  A ``DataFrame.persist()`` registers the plan
in the session's CacheManager, which holds a STRONG reference: without
an explicit ``unpersist()`` the cached relation lives until JVM death.
In a long-lived session that runs many queries (the external driver,
the sharded oracle sweep, one bench cohort JVM) those per-call pins
accumulate as executor-storage pressure — the round-10 verdict names
this as the likely root cause of the documented intra-JVM bench drift.

What the code does today:

- operators call :func:`pin` instead of bare ``.persist()``; semantics
  inside the query are identical (same storage level, same reuse), and
  the relation is appended to ``_PINNED``;
- :func:`release_pinned` unpersists everything in ``_PINNED``, but
  nothing calls it yet: the entry, ``bench.py`` and the oracle harness
  leave pins in place, so ``_PINNED`` grows for the life of the process;
- ``perfbench/run.py`` reads ``len(_PINNED)`` after each pass as its
  ``caching.pinned_after_pass`` metric.

Releasing is always CORRECT regardless of timing: ``unpersist`` is a
hint, and a consumer that re-runs after release simply recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` + register for a later :func:`release_pinned`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every relation pinned since the last release.

    Returns the number of relations released. Safe to call at any time:
    a consumer of a released relation recomputes it (persist/unpersist
    are hints, never correctness).
    """
    n = len(_PINNED)
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return n
