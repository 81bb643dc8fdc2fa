"""Command-line entry point: the reference's production trigger
(`airflow dags trigger iowa_liquor_etl_pipeline`, dags/iowa_liquor_dag.py:49-57)
as one Spark submit.

    python -m iowa_liquor_sales_spark pipeline --input <csv_pages_dir> \
        [--workdir OUT] [--fact-partition-by-year]

Reads staged Socrata CSV pages with the declared 24-column schema (no
inference), runs bronze -> silver -> gold (SURVEY §3.1/§3.3: coercions
C1-C3, star schema A1/A2/D1-D6, PK/FK validations J1/J2), writes each
stage as parquet and reads it back typed with the schema it just wrote.
Each stage is built from the stored one before it, and the PK/FK checks
run on the stored gold tables. It prints one JSON line of validation
results and of the stored row counts. Exit code 1 if any PK/FK validation
fails — the Spark stand-in for the reference's Postgres constraint errors.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iowa_liquor_sales_spark import get_spark
from iowa_liquor_sales_spark.plans.iowa import build_gold, silver, validate_gold
from iowa_liquor_sales_spark.schemas import IOWA_RAW_SCHEMA
from iowa_liquor_sales_spark.sources.readers import read_csv, read_parquet
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

    def store(df: DataFrame, stage: str, partition_by=None) -> DataFrame:
        write_parquet(df, f"{work}/{stage}", partition_by=partition_by)
        return read_parquet(spark, f"{work}/{stage}", df.schema)

    bronze = store(
        read_csv(spark, input_dir, IOWA_RAW_SCHEMA, header=True, null_value="\\N"),
        "bronze",
    )
    silver_df = store(silver(bronze), "silver")
    gold = {}
    for name, df in build_gold(silver_df).items():
        part = None
        if fact_partition_by_year and name == "fact_sales":
            part = ["year"]
            df = df.withColumn("year", F.year("date"))
        gold[name] = store(df, f"gold/{name}", part)

    violations = validate_gold(gold)
    out = {
        "workdir": work,
        "bronze_rows": bronze.count(),
        "silver_rows": silver_df.count(),
        **{f"{n}_rows": df.count() for n, df in gold.items()},
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
