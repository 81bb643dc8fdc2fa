"""Bronze→silver→gold over an Iowa-shaped fixture with the reference's
data pathologies (FIXTURES.md §A hints: unparseable numerics, conflicting
dim attributes, NULL keys) and its conservation-check test style
(SURVEY §5: row counts preserved, nulls eliminated, keys unique)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from iowa_liquor_sales_spark.operators.dedup import dedup_rank
from iowa_liquor_sales_spark.plans.iowa import (
    DIM_CATEGORY_COLS,
    DIM_ITEM_COLS,
    DIM_STORE_COLS,
    DIM_VENDOR_COLS,
    _dim,
    build_gold,
    fact_sales,
    silver,
    validate_gold,
)
from iowa_liquor_sales_spark.schemas import IOWA_COERCE_COLS, IOWA_RAW_SCHEMA
from iowa_liquor_sales_spark.sources.readers import read_csv
from iowa_liquor_sales_spark.sources.writers import write_csv


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    """120 synthetic raw rows: ~5% garbage numerics, duplicate stores with
    conflicting attributes, NULL keys, one duplicated invoice PK."""
    rows = []
    for i in range(120):
        store = None if i % 17 == 0 else f"S{i % 7}"
        store_name = f"Store {i % 7}" + (" alt" if i % 21 == 0 else "")
        rows.append(
            (
                f"INV-{i:05d}" if i != 99 else "INV-00098",  # dup PK at 98/99
                f"2021-0{1 + i % 9}-{1 + i % 27:02d} 00:00:00"
                if i % 19 != 0
                else "not a date",
                store,
                store_name,
                f"{i} Main St",
                "Des Moines",
                "50309",
                "POINT (-93.6 41.6)",
                "77",
                "Polk",
                None if i % 23 == 0 else f"C{i % 4}",
                f"Cat {i % 4}",
                f"V{i % 5}",
                f"Vendor {i % 5}",
                f"I{i % 11}",
                f"Item {i % 11}",
                "12" if i % 20 != 5 else "twelve",  # pack garbage
                "750",
                str(5 + i % 10) if i % 25 != 6 else "",  # empty cost
                str(8 + i % 10),
                "6",
                f"{(6 * (8 + i % 10)):.2f}",
                "4.5",
                "1.19",
            )
        )
    path = str(tmp_path_factory.mktemp("iowa_csv"))
    df = spark.createDataFrame(rows, IOWA_RAW_SCHEMA)
    write_csv(df, path, header=True)
    return read_csv(spark, path, IOWA_RAW_SCHEMA, header=True, null_value="\\N")


def test_silver_conservation(bronze):
    s = silver(bronze)
    # Row count preserved through the narrow transform (reference
    # task_transform.log invariant: 285 chunks in == 285 out).
    assert s.count() == bronze.count()
    # Zero nulls in coerced numeric columns (reference
    # tests/test_transform.py:11 invariant).
    for c in IOWA_COERCE_COLS:
        assert s.filter(F.col(c).isNull()).count() == 0, c
    # Garbage numerics became 0, not errors.
    assert s.filter(F.col("pack") == 0).count() > 0
    # Unparseable dates became NULL (errors='coerce' semantics).
    assert s.filter(F.col("date").isNull()).count() > 0
    # Types are the declared target types.
    dt = dict(s.dtypes)
    assert dt["pack"] == "int" and dt["sale_dollars"] == "double"
    assert dt["date"] == "timestamp"


def test_gold_dims_and_fact(bronze):
    s = silver(bronze)
    gold = build_gold(s)
    # Dim keys unique & non-null (ON CONFLICT DO NOTHING semantics).
    for name, key in [
        ("dim_store", "store"),
        ("dim_item", "itemno"),
        ("dim_vendor", "vendor_no"),
        ("dim_category", "category"),
        ("dim_date", "date"),
    ]:
        d = gold[name]
        assert d.filter(F.col(key).isNull()).count() == 0, name
        assert d.groupBy(key).count().filter("count > 1").count() == 0, name
    # Conflicting store attributes collapse to ONE deterministic winner.
    assert gold["dim_store"].count() == 7
    # Fact PK dedup: the duplicated invoice keeps exactly one row.
    f = gold["fact_sales"]
    assert f.groupBy("invoice_line_no").count().filter("count > 1").count() == 0
    # Rebuild determinism: same winner twice.
    again = fact_sales(s)
    assert (
        f.select("invoice_line_no", "sale_dollars")
        .exceptAll(again.select("invoice_line_no", "sale_dollars"))
        .count()
        == 0
    )


def _assert_same_rows(got, want):
    assert got.dtypes == want.dtypes
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_dim_winner_matches_distinct_then_rank(spark, bronze):
    """_dim's one aggregate keeps the row that distinct + dedup_rank keeps:
    the first under ascending, nulls-first order of the non-key columns."""

    def reference(df, key, cols):
        distinct = df.filter(F.col(key).isNotNull()).select(*cols).distinct()
        return dedup_rank(distinct, [key], [c for c in cols if c != key])

    s = silver(bronze)
    for key, cols in [
        ("store", DIM_STORE_COLS),
        ("itemno", DIM_ITEM_COLS),
        ("vendor_no", DIM_VENDOR_COLS),
        ("category", DIM_CATEGORY_COLS),
    ]:
        _assert_same_rows(_dim(s, key, cols), reference(s, key, cols))

    edge = spark.createDataFrame(
        [
            ("K1", None, 1.0),  # NULL attribute wins
            ("K1", "a", 0.0),
            ("K2", "a", float("nan")),  # NaN loses
            ("K2", "a", 5.0),
            ("K3", "a", -0.0),  # 0.0 next to -0.0
            ("K3", "a", 0.0),
            ("K4", "b", 0.0),
            ("K4", "a", -0.0),  # distinct() writes this zero as 0.0
            (None, "z", 1.0),  # NULL key is dropped
        ],
        "k string, a string, x double",
    )
    dim = _dim(edge, "k", ["k", "a", "x"])
    _assert_same_rows(dim, reference(edge, "k", ["k", "a", "x"]))
    got = {r["k"]: (r["a"], r["x"]) for r in dim.collect()}
    assert got["K1"] == (None, 1.0) and got["K2"] == ("a", 5.0)
    assert got["K3"] == ("a", 0.0) and got["K4"] == ("a", 0.0)
    assert math.copysign(1, got["K3"][1]) == math.copysign(1, got["K4"][1]) == 1
    assert set(got) == {"K1", "K2", "K3", "K4"}


def test_gold_validations_pass(bronze):
    gold = build_gold(silver(bronze))
    results = validate_gold(gold)
    assert all(v == 0 for v in results.values()), results


def test_gold_validations_count_violations(spark):
    """Hand-built gold with one violation of each kind: a duplicated fact
    PK, duplicated dim keys (S1 twice, V1 three times, which a plain
    dim-key join would multiply into the fact), a NULL dim key, one orphan
    per FK column, and NULL FKs, which are not violations."""
    import datetime as dt

    d1, d9 = dt.date(2021, 1, 1), dt.date(2020, 1, 1)
    fact = spark.createDataFrame(
        [
            ("INV1", d1, "S1", "I1", "V1", "C1"),
            ("INV1", d1, "S1", "I1", "V1", "C1"),  # duplicated PK
            ("INV2", d1, "S9", "I1", "V1", "C1"),  # orphan store
            ("INV3", d1, "S2", "I9", "V1", "C1"),  # orphan item
            ("INV4", d1, "S1", "I1", "V9", "C1"),  # orphan vendor
            ("INV5", d1, "S1", "I1", "V1", "C9"),  # orphan category
            ("INV6", d9, "S1", "I1", "V1", "C1"),  # orphan date
            ("INV7", None, None, None, None, None),  # NULL FKs
        ],
        "invoice_line_no string, date date, store string, itemno string, "
        "vendor_no string, category string",
    )
    gold = {
        "dim_store": spark.createDataFrame(
            [("S1", "a"), ("S1", "b"), ("S2", "c")], "store string, name string"
        ),
        "dim_item": spark.createDataFrame(
            [("I1", "x"), (None, "y")], "itemno string, im_desc string"
        ),
        "dim_vendor": spark.createDataFrame(
            [("V1", "a"), ("V1", "b"), ("V1", "c")], "vendor_no string, vendor_name string"
        ),
        "dim_category": spark.createDataFrame(
            [("C1", "x")], "category string, category_name string"
        ),
        "dim_date": spark.createDataFrame([(d1, 2021)], "date date, year int"),
        "fact_sales": fact,
    }
    expected = {
        "pk_fact": 1,
        "pk_dim_store": 1,
        "pk_dim_item": 0,
        "pk_dim_vendor": 1,
        "pk_dim_category": 0,
        "pk_dim_date": 0,
        "fk_store": 1,
        "fk_itemno": 1,
        "fk_vendor_no": 1,
        "fk_category": 1,
        "fk_date": 1,
    }
    assert list(validate_gold(gold).items()) == list(expected.items())


def test_dim_date_pg_dow_convention(spark):
    from iowa_liquor_sales_spark.functions.dates import date_parts

    df = spark.createDataFrame(
        [("2026-08-09",), ("2026-08-15",), ("2026-08-12",)], ["d"]
    ).select(*date_parts(F.to_date("d")))
    rows = {r["date"].isoformat(): r for r in df.collect()}
    # Postgres DOW: Sunday=0, Saturday=6 (session.sql:117-126).
    assert rows["2026-08-09"]["day_of_week"] == 0  # Sunday
    assert rows["2026-08-15"]["day_of_week"] == 6  # Saturday
    assert rows["2026-08-12"]["day_of_week"] == 3  # Wednesday
    assert rows["2026-08-09"]["is_weekend"] and rows["2026-08-15"]["is_weekend"]
    assert not rows["2026-08-12"]["is_weekend"]


def test_cli_pipeline_end_to_end(spark, tmp_path, capsys):
    import json
    import sys

    sys.path.insert(0, "examples")
    from examples.run_iowa_pipeline import stage_sample_pages

    from iowa_liquor_sales_spark.__main__ import main

    pages = str(tmp_path / "pages")
    stage_sample_pages(spark, pages, n_rows=2000)
    rc = main(
        [
            "pipeline",
            "--input",
            pages,
            "--workdir",
            str(tmp_path / "wh"),
            "--fact-partition-by-year",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out["bronze_rows"] == out["silver_rows"] == out["fact_sales_rows"] == 2000
    assert out["dim_store_rows"] > 0 and out["dim_date_rows"] > 0
    fact = spark.read.parquet(str(tmp_path / "wh/gold/fact_sales"))
    assert fact.count() == 2000
    # hive partitioning materialized: year appears as a partition column
    assert "year" in fact.columns
