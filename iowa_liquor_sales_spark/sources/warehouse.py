"""Warehouse surface (reference S9/S10): DDL + full-table load.

The reference executes DDL from a .sql file before loading
(``src/load.py:22,52-55`` reading ``include/sql/create_table.sql``) and then
bulk-loads every chunk in one transaction (``src/load.py:47-66``). Spark's
equivalents: ``CREATE TABLE ... USING PARQUET`` against the session catalog,
and a single ``saveAsTable``/``insertInto`` action whose atomicity comes
from the file-commit protocol (staging + rename), not a DB transaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iowa_liquor_sales_spark.sources.readers import read_parquet


def _ddl_columns(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def create_table(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    partition_by: list[str] | None = None,
    location: str | None = None,
) -> None:
    """S9: declarative table create, idempotent like the reference's
    ``CREATE TABLE IF NOT EXISTS`` DDL (create_table.sql:1)."""
    parts = f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({_ddl_columns(schema)}) "
        f"USING PARQUET{parts}{loc}"
    )


def full_load(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> int:
    """S10: one write action replaces the reference's serial per-chunk COPY
    loop; returns the loaded row count. Idempotent re-runs via overwrite
    mode — the engine-side analog of the single-transaction load.

    The count comes from an ``Observation`` attached to the write itself
    (the Spark equivalent of the reference's cumulative per-chunk log,
    src/load.py:60-62) — no second scan of the table."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        mode
    ).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)
    return int(obs.get["rows"])


def compact(
    spark: SparkSession,
    path: str,
    target_records_per_file: int = 1_000_000,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet directory into
    ceil(rows / target) files. Streaming ingest and per-task writes leave
    thousands of small files; at 100 TB, scan throughput collapses under
    file-open overhead, so compaction runs as periodic maintenance.

    Rewrites through a staging directory and swaps, so a crash leaves the
    original intact (the reference's restartable-intermediate posture).
    Returns (files_before, files_after).
    """
    import shutil

    # Untyped on purpose: compact takes any directory, whose schema is
    # unknown until a footer is read. The re-read after the swap reuses it.
    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files_before = df.select(F.input_file_name()).distinct().count()
    n_out = max(1, -(-n_rows // target_records_per_file))
    staging = path.rstrip("/") + "__compacting"
    df.repartition(n_out).write.mode("overwrite").parquet(staging)
    backup = path.rstrip("/") + "__pre_compact"
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup)
    after = read_parquet(spark, path, df.schema)
    assert after.count() == n_rows
    n_files_after = after.select(F.input_file_name()).distinct().count()
    return n_files_before, n_files_after


def bucketize(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sort-bucketed) table.

    Bucketing is the 100 TB join strategy the reference's Postgres indexes
    approximate: both sides of a recurring fact⋈fact join are pre-hashed
    into the same number of buckets on the join key, so every subsequent
    join/aggregation on that key runs WITHOUT a shuffle — Catalyst sees
    the compatible output partitioning and plans SortMergeJoin over the
    existing buckets (zero Exchange nodes; asserted in tests). Pay one
    shuffle at write time, amortized over every downstream query.

    ``n_buckets`` should be sized so a bucket of the LARGER table fits an
    executor core's working memory (e.g. 100 TB / 4096 buckets ≈ 25 GB of
    raw scan per bucket, ~task-sized after column pruning).
    """
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def overwrite_partitions(df: DataFrame, name: str) -> int:
    """Incremental reload: replace ONLY the partitions present in ``df``
    (dynamic partition overwrite), leaving the rest of the table intact —
    the warehouse-scale answer to the reference's full-table re-runs. At
    100 TB a daily load rewrites one day's partition, never the table.

    Returns the number of rows written (write-attached Observation).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .insertInto(name)
        )
        return int(obs.get["rows"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
