"""The query lifecycle without a SparkSession: ``caching.query_scope``
and ``bench.best_of`` driven against a stub session that records what
they ask of Spark."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

import bench
from iowa_liquor_sales_spark import caching


class StubSpark:
    """Records job-group changes, cache clears and timed calls in order."""

    def __init__(self):
        self.events: list[tuple] = []
        self.sparkContext = SimpleNamespace(
            setJobGroup=lambda group, desc: self.events.append(("label", group, desc))
        )
        self.catalog = SimpleNamespace(
            clearCache=lambda: self.events.append(("clear",))
        )


def test_query_scope_releases_and_unlabels_when_the_body_raises(monkeypatch):
    monkeypatch.setattr(caching, "_PINNED", ["df_a", "df_b"])
    spark = StubSpark()
    with pytest.raises(RuntimeError):
        with caching.query_scope(spark, "q_x"):
            spark.events.append(("body",))
            raise RuntimeError("query failed")
    assert spark.events == [
        ("label", "q_x", "q_x"),
        ("body",),
        ("clear",),
        ("label", None, None),
    ]
    assert caching._PINNED == []


def test_release_pinned_returns_the_number_of_pins_dropped(monkeypatch):
    monkeypatch.setattr(caching, "_PINNED", ["df_a", "df_b", "df_c"])
    spark = StubSpark()
    assert caching.release_pinned(spark) == 3
    assert caching._PINNED == [] and spark.events == [("clear",)]


def test_best_of_runs_each_rep_in_its_own_scope_and_returns_the_min(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=lambda: clock[0]))
    spark = StubSpark()
    walls = iter([3.0, 1.0, 2.0])

    def fn():
        spark.events.append(("call",))
        clock[0] += next(walls)

    assert bench.best_of(spark, "q_x", fn, reps=3) == 1.0
    assert spark.events == [
        ("label", "q_x", "q_x"),
        ("call",),
        ("clear",),
        ("label", None, None),
    ] * 3
