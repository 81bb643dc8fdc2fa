#!/usr/bin/env python
"""The reference's entire production path, end-to-end, as one Spark app.

Reference (SURVEY §3): Airflow DAG `extract >> transform >> load`
(pandas chunk loops, Parquet intermediates, Postgres COPY) + a SQL session
script deriving the star schema. Here:

    staged CSV pages --bronze--> typed rows --silver--> cleansed rows
        --gold--> 5 dims + fact (validated) --> analytics query

Usage:  python examples/run_iowa_pipeline.py [workdir]
(writes bronze/silver/gold parquet dirs under workdir, default a tmp dir)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iowa_liquor_sales_spark import get_spark  # noqa: E402
from iowa_liquor_sales_spark.functions.sums import dsum  # noqa: E402
from iowa_liquor_sales_spark.plans.iowa import build_gold, silver, validate_gold  # noqa: E402
from iowa_liquor_sales_spark.schemas import IOWA_RAW_SCHEMA  # noqa: E402
from iowa_liquor_sales_spark.sources.readers import read_csv, read_parquet  # noqa: E402
from iowa_liquor_sales_spark.sources.writers import write_csv, write_parquet  # noqa: E402


def stage_sample_pages(spark, pages_dir: str, n_rows: int = 5000) -> None:
    """Stand-in for the Socrata extract: deterministic Iowa-shaped rows
    staged as CSV (exactly what the reference's fetcher writes per page)."""
    df = spark.range(n_rows).select(
        F.format_string("INV-%07d", F.col("id")).alias("invoice_line_no"),
        F.date_format(
            F.date_add(F.lit("2021-01-01").cast("date"), (F.col("id") % 900).cast("int")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("date"),
        F.concat(F.lit("S"), (F.col("id") % 40).cast("string")).alias("store"),
        F.concat(F.lit("Store "), (F.col("id") % 40).cast("string")).alias("name"),
        F.concat((F.col("id") % 40).cast("string"), F.lit(" Main St")).alias("address"),
        F.lit("Des Moines").alias("city"),
        F.lit("50309").alias("zipcode"),
        F.lit("POINT (-93.6 41.6)").alias("store_location"),
        F.lit("77").alias("county_number"),
        F.lit("Polk").alias("county"),
        F.concat(F.lit("C"), (F.col("id") % 12).cast("string")).alias("category"),
        F.concat(F.lit("Category "), (F.col("id") % 12).cast("string")).alias("category_name"),
        F.concat(F.lit("V"), (F.col("id") % 9).cast("string")).alias("vendor_no"),
        F.concat(F.lit("Vendor "), (F.col("id") % 9).cast("string")).alias("vendor_name"),
        F.concat(F.lit("I"), (F.col("id") % 120).cast("string")).alias("itemno"),
        F.concat(F.lit("Item "), (F.col("id") % 120).cast("string")).alias("im_desc"),
        # ~2% unparseable numerics exercise errors->NULL->0 (C2/C3).
        F.when(F.col("id") % 53 == 0, F.lit("N/A"))
        .otherwise(F.lit("12"))
        .alias("pack"),
        F.lit("750").alias("bottle_volume_ml"),
        ((F.col("id") % 20) + 5).cast("string").alias("state_bottle_cost"),
        ((F.col("id") % 20) + 8).cast("string").alias("state_bottle_retail"),
        F.lit("6").alias("sale_bottles"),
        (((F.col("id") % 20) + 8) * 6).cast("string").alias("sale_dollars"),
        F.lit("4.5").alias("sale_liters"),
        F.lit("1.19").alias("sale_gallons"),
    )
    write_csv(df.repartition(8), pages_dir, header=True)


def main(workdir: str | None = None) -> dict[str, int]:
    work = workdir or tempfile.mkdtemp(prefix="iowa_pipeline_")
    spark = get_spark(
        app_name="iowa-pipeline-demo",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = f"{work}/pages"
    stage_sample_pages(spark, pages)

    def store(df, stage: str):
        """Write one stage; read it back typed with the schema just written."""
        write_parquet(df, f"{work}/{stage}")
        return read_parquet(spark, f"{work}/{stage}", df.schema)

    # bronze: typed CSV scan, no inference (S1/S2)
    bronze = store(
        read_csv(spark, pages, IOWA_RAW_SCHEMA, header=True, null_value="\\N"),
        "bronze",
    )

    # silver: C1-C3 coercions, one narrow stage (reference transform task)
    silver_df = store(silver(bronze), "silver")

    # gold: star schema + validations of the stored tables (reference session.sql)
    gold = {name: store(df, f"gold/{name}") for name, df in build_gold(silver_df).items()}
    violations = validate_gold(gold)
    assert all(v == 0 for v in violations.values()), violations

    # the analytics the star schema serves: sales by category x year
    report = (
        gold["fact_sales"]
        .join(F.broadcast(gold["dim_category"]), "category")
        .groupBy("category_name", F.year("date").alias("year"))
        .agg(dsum("sale_dollars", 2, "total_sales"), F.count(F.lit(1)).alias("n"))
    )
    counts = {
        "bronze_rows": bronze.count(),
        "silver_rows": silver_df.count(),
        "fact_rows": gold["fact_sales"].count(),
        "dim_store_rows": gold["dim_store"].count(),
        "report_rows": report.count(),
    }
    print({"workdir": work, **counts})
    return counts


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
