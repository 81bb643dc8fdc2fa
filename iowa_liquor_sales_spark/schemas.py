"""Declared schemas: every scan of a known table is typed.

The reference declares its target schema once in DDL
(``include/sql/create_table.sql:1-26``: 14 TEXT, 3 INTEGER, 5 NUMERIC,
1 TIMESTAMP) and lets pandas infer everything at read time
(``src/extract.py:27-31``). Here the DDL becomes a ``StructType`` handed to
the reader: ``readers.read_csv`` for the CSV pages, ``readers.read_parquet``
for the synthetic tables (:func:`read_table`). A CSV scan is then typed from
the first byte (inference would read the data twice), and a parquet scan
builds its DataFrame without the Spark job that reads a footer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from iowa_liquor_sales_spark.sources.readers import read_parquet

# --- Iowa Liquor Sales flat table (reference include/sql/create_table.sql:1-26)
# NUMERIC columns are modeled as DoubleType to match what the reference's
# transform stage actually produces (pd.to_numeric -> float64,
# src/transform.py:15-21); DecimalType(12,2) is the faithful-to-DDL
# alternative for exact money arithmetic.
IOWA_STRING_COLS = [
    "invoice_line_no",
    "store",
    "name",
    "address",
    "city",
    "zipcode",
    "store_location",
    "county_number",
    "county",
    "category",
    "category_name",
    "vendor_no",
    "vendor_name",
    "itemno",
    "im_desc",
]
IOWA_INT_COLS = ["pack", "bottle_volume_ml", "sale_bottles"]
IOWA_NUM_COLS = [
    "state_bottle_cost",
    "state_bottle_retail",
    "sale_dollars",
    "sale_liters",
    "sale_gallons",
]
# All 8 columns coerced by the reference's transform (src/transform.py:15-21).
IOWA_COERCE_COLS = IOWA_INT_COLS + IOWA_NUM_COLS

IOWA_SCHEMA = T.StructType(
    [T.StructField("invoice_line_no", T.StringType(), False)]
    + [T.StructField("date", T.TimestampType(), True)]
    + [T.StructField(c, T.StringType(), True) for c in IOWA_STRING_COLS[1:]]
    + [T.StructField(c, T.IntegerType(), True) for c in IOWA_INT_COLS]
    + [T.StructField(c, T.DoubleType(), True) for c in IOWA_NUM_COLS]
)

# Raw/bronze variant: everything arrives as string (CSV wire format); the
# silver stage owns all coercions, mirroring pd.read_csv + transform.
IOWA_RAW_SCHEMA = T.StructType(
    [T.StructField("invoice_line_no", T.StringType(), False)]
    + [T.StructField("date", T.StringType(), True)]
    + [T.StructField(c, T.StringType(), True) for c in IOWA_STRING_COLS[1:]]
    + [T.StructField(c, T.StringType(), True) for c in IOWA_COERCE_COLS]
)

# --- Synthetic test tables (/root/testdata/sf*/, FIXTURES.md §B)
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table with its declared ``TESTDATA_SCHEMAS``
    entry (``readers.read_parquet``): no footer is read to build the
    DataFrame, and filter/column pushdown happens in every query built on
    top.

    The three timestamps (``orders.o_orderdate``, ``lineitem.l_shipdate``,
    ``events.ts``) are stored without a zone and read as
    **TIMESTAMP_NTZ**: wall-clock, no session-zone reinterpretation. That
    is how the DuckDB oracle's naive TIMESTAMP sees the same bytes, so every
    downstream query (and its epoch-us export via
    ``functions.dates.epoch_us``) is independent of the driver's timezone.
    """
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", TESTDATA_SCHEMAS[name])


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}
