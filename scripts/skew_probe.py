#!/usr/bin/env python
"""Skew-join probe: build a 6M-row fact where ONE key owns 50% of all
rows, join it to a 30k-row dim, and compare three physical strategies:

  1. plain shuffle join with AQE skew-splitting DISABLED (the pathology)
  2. the same join with AQE skew handling ON (engine default)
  3. explicit salted_join (the AQE-less fallback the engine provides)

Splices its section into SCALE.md (scale_probe.splice). The point: the
engine has two working answers to the single-hot-key problem that kills
naive shuffle joins at 100 TB.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import _cpus, best_of  # noqa: E402
from iowa_liquor_sales_spark import get_spark  # noqa: E402
from iowa_liquor_sales_spark.operators.joins import salted_join  # noqa: E402
from scripts.scale_probe import splice  # noqa: E402

N_FACT = 6_000_000
N_DIM = 30_000


def main() -> None:
    cpus = int(_cpus())
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=4 * cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "24g",
            # Force the skew to matter: no broadcast escape hatch.
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    fact = (
        spark.range(N_FACT)
        .withColumn(
            "k",
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(
                F.col("id") % N_DIM
            ),
        )
        .withColumn("v", (F.col("id") % 1000).cast("double"))
    )
    dim = spark.range(N_DIM).select(
        F.col("id").alias("dk"), (F.col("id") * 2).alias("dv")
    )

    def run(label: str, df) -> tuple[str, float, int]:
        rows: list[int] = []
        secs = best_of(spark, label, lambda: rows.append(df.count()), reps=1)
        return label, round(secs, 2), rows[0]

    results = []
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results.append(
        run("plain shuffle join, AQE skew OFF", fact.join(dim, fact["k"] == dim["dk"]))
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results.append(
        run("shuffle join, AQE skew ON", fact.join(dim, fact["k"] == dim["dk"]))
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results.append(
        run(
            "salted_join (16 salts), AQE skew OFF",
            salted_join(fact, dim, "k", "dk", n_salts=16),
        )
    )

    lines = [
        "",
        "## Skew-join probe (`scripts/skew_probe.py`)",
        "",
        f"{N_FACT:,}-row fact, one key = 50% of rows, joined to a "
        f"{N_DIM:,}-row dim (broadcast disabled to force the shuffle path):",
        "",
        "| strategy | wall | rows |",
        "|---|---|---|",
    ]
    for label, secs, n in results:
        lines.append(f"| {label} | {secs}s | {n:,} |")
    assert len({n for _, _, n in results}) == 1, "strategies disagree on rows!"
    with open("SCALE.md") as f:
        doc = f.read()
    with open("SCALE.md", "w") as f:
        f.write(splice(doc, "\n".join(lines)))
    print("\n".join(lines[6:]))


if __name__ == "__main__":
    main()
