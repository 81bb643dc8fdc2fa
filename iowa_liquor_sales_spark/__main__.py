"""Command-line entry point: the reference's production trigger
(`airflow dags trigger iowa_liquor_etl_pipeline`, dags/iowa_liquor_dag.py:49-57)
as one Spark submit.

    python -m iowa_liquor_sales_spark pipeline --input <csv_pages_dir> \
        [--workdir OUT] [--fact-partition-by-year]

Reads staged Socrata CSV pages with the declared 24-column schema (no
inference), runs bronze -> silver -> gold (SURVEY §3.1/§3.3: coercions
C1-C3, star schema A1/A2/D1-D6, PK/FK validations J1/J2), writes each
stage as parquet, and prints one JSON line of validation results and of
the row counts read back from the written parquet. Exit code 1 if any
PK/FK validation fails — the Spark stand-in for the reference's Postgres
constraint errors.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile

from iowa_liquor_sales_spark import get_spark
from iowa_liquor_sales_spark.plans.iowa import build_gold, silver, validate_gold
from iowa_liquor_sales_spark.schemas import IOWA_RAW_SCHEMA
from iowa_liquor_sales_spark.sources.readers import read_csv
from iowa_liquor_sales_spark.sources.writers import write_parquet


def run_pipeline(
    input_dir: str,
    workdir: str | None = None,
    fact_partition_by_year: bool = False,
    master: str | None = None,
) -> dict:
    work = workdir or tempfile.mkdtemp(prefix="iowa_pipeline_")
    spark = get_spark(
        app_name="iowa-liquor-pipeline",
        master=master,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    bronze = read_csv(spark, input_dir, IOWA_RAW_SCHEMA, header=True, null_value="\\N")
    write_parquet(bronze, f"{work}/bronze")

    silver_df = silver(spark.read.parquet(f"{work}/bronze"))
    write_parquet(silver_df, f"{work}/silver")

    gold = build_gold(spark.read.parquet(f"{work}/silver"))
    for name, df in gold.items():
        part = (
            ["year"]
            if fact_partition_by_year and name == "fact_sales"
            else None
        )
        if part:
            from pyspark.sql import functions as F

            df = df.withColumn("year", F.year("date"))
        write_parquet(df, f"{work}/gold/{name}", partition_by=part)

    violations = validate_gold(gold)

    def written_rows(stage: str) -> int:
        return spark.read.parquet(f"{work}/{stage}").count()

    out = {
        "workdir": work,
        "bronze_rows": written_rows("bronze"),
        "silver_rows": written_rows("silver"),
        **{f"{n}_rows": written_rows(f"gold/{n}") for n in gold},
        "violations": violations,
        "ok": all(v == 0 for v in violations.values()),
    }
    print(json.dumps(out))
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="iowa_liquor_sales_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    pp = sub.add_parser("pipeline", help="CSV pages -> bronze/silver/gold parquet")
    pp.add_argument("--input", required=True, help="directory of staged CSV pages")
    pp.add_argument("--workdir", default=None, help="output dir (default: tmp)")
    pp.add_argument(
        "--fact-partition-by-year",
        action="store_true",
        help="hive-partition fact_sales by year for partition-pruned scans",
    )
    pp.add_argument("--master", default=None, help="Spark master override")
    args = p.parse_args(argv)
    out = run_pipeline(
        args.input, args.workdir, args.fact_partition_by_year, args.master
    )
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
