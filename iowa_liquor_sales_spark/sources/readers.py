"""Readers (reference S1-S5 re-expressed).

The reference's paged HTTP extract loop (``src/extract.py:34-60``: SoQL
``$limit/$offset`` pagination, stop-on-empty-page) exists because pandas
must bound memory by hand. In Spark the same semantics are a partitioned
scan: ``spark.read`` splits files into tasks, predicates push down to the
source, and "chunking" is just ``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Typed parquet scan (reference S5, src/transform.py:32), the parquet
    twin of :func:`read_csv`. The caller declares the schema, so building
    the DataFrame reads no footer: without one, Spark runs a one-task job
    (``ParquetFileFormat.mergeSchemasInParallel``) to infer it every time.
    Vectorized reader, row-group min/max skipping and column pruning work
    as on an inferred scan. Hive partition columns (``cell=3/``) take their
    type from ``schema`` and, as on any partitioned scan, come last."""
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    null_value: str | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Typed CSV scan (reference S2, src/extract.py:27-31) — explicit schema
    (never inference: inference reads the data twice and guesses), PERMISSIVE
    mode so malformed cells become NULLs like ``errors="coerce"``."""
    reader = spark.read.schema(schema).option("header", header).option("mode", "PERMISSIVE")
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if timestamp_format is not None:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_socrata_staged(
    spark: SparkSession, staging_dir: str, schema: T.StructType
) -> DataFrame:
    """Scan CSV pages staged from a Socrata-style paged HTTP API
    (reference S1, src/extract.py:18-31).

    The reference's live HTTP pull is network-bound (~5,450 rows/s,
    BASELINE.md); engine-side the right design is stage-then-scan: any
    fetcher lands pages as files, Spark scans the directory in parallel. A
    faithful *live* source would be a custom Python DataSource
    (``spark.dataSource.register``) emitting one partition per page range —
    deliberately not implemented here because the container has no network
    and the scan, not the fetch, is the engine's concern.
    """
    return read_csv(spark, staging_dir, schema)
