"""A long-lived session keeps the classes it generated: running the same
queries again compiles nothing. At Spark's default cache of 100 classes,
a working set larger than that was recompiled on every pass."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from bench import codegen_compiles, force
from iowa_liquor_sales_spark import caching

# Pure lazy plans: no driver-side collect feeds a literal back into the
# plan (global_row_number's offsets do, and they follow the scan's file
# order), so every pass generates the same code. Together their first
# pass compiles ~190 classes, well above Spark's default cache size.
WORKING_SET = (
    "q_rolling_quantile",
    "q_rolling_anomaly",
    "q_conformal",
    "q_percentiles",
    "q_forecast_backtest",
    "q_ams_f2",
    "q_diff_in_diff",
    "q_hill_tail",
)


def _pass(spark, sf_dir) -> int:
    queries = entry_mod.queries()
    before = codegen_compiles(spark)
    for name in WORKING_SET:
        with caching.query_scope(spark, name):
            force(queries[name](spark, sf_dir))
    return codegen_compiles(spark) - before


def test_second_pass_compiles_nothing(spark, sf_dir):
    first = _pass(spark, sf_dir)
    assert first > 100, f"working set too small to overflow a 100-class cache: {first}"
    assert _pass(spark, sf_dir) == 0
