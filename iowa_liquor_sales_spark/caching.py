"""One caching idiom and one query lifecycle.

Operators that reuse a shared subtree (a self-join, a multi-branch
consumer, an offsets job plus its output job) persist it with
:func:`pin`, never a bare ``.persist()``. ``DataFrame.persist()``
registers the plan in the session's CacheManager, which holds a STRONG
reference: without a release the cached relation lives until JVM death,
and a long-lived session that runs many queries accumulates them.

:func:`query_scope` is the one place a query's cache is released. It
labels the query's Spark jobs (job group and description) and, on exit,
calls :func:`release_pinned`. Its callers:

- ``bench.best_of``, which every timed rep of ``bench.py`` and of
  ``scripts/{profile_queries,scale_probe,skew_probe}.py`` goes through,
  and ``bench.prepare``'s untimed warm-up queries;
- ``scripts/oracle_sweep.py`` and ``tests/test_oracle_parity.py``,
  around each query's oracle comparison.

``__spark_entry__.queries()`` is not wrapped: its consumers, the
verification contract and ``perfbench/run.py``, force its frames outside
any scope (perfbench sets its own job group and reads ``len(_PINNED)``
after each pass as its ``caching.pinned_after_pass`` metric).

Releasing is always CORRECT once the query's output is forced:
``unpersist`` is a hint, and a consumer that re-runs after release
simply recomputes. Never release between building a relation and
forcing it — ``ranking.global_row_number`` relies on its pinned range
shuffle staying cached until the output job runs.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` + register for a later :func:`release_pinned`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PINNED.append(df)
    return df


def release_pinned(spark) -> int:
    """Drop every cached relation of the session and forget the pins.

    Returns the number of pins dropped since the last release.
    """
    n = len(_PINNED)
    spark.catalog.clearCache()
    _PINNED.clear()
    return n


@contextmanager
def query_scope(spark, label: str):
    """Label the body's Spark jobs ``label``; release its cache on exit."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        yield
    finally:
        release_pinned(spark)
        sc.setJobGroup(None, None)
