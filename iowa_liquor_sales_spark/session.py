"""SparkSession factory tuned for the engine.

The reference (sundar139/IOWA-Liquor-Sales) hand-rolls chunked execution
(``src/extract.py:34-60``, CHUNK_ROWS=50_000 at ``src/config.py:19``) to get
bounded memory; in Spark that is simply partitioned execution, so the only
"engine config" we need is sensible AQE/shuffle/broadcast defaults.

Scale posture (100 TB / ~1000 executors): every knob here is either
size-relative (maxPartitionBytes), adaptive (AQE re-plans partition counts
and skew at runtime), or a ratio — nothing is tuned to the local[32] test
box in a way that would break on a real cluster. ``shuffle_partitions`` is
the one value a deployment should override (rule of thumb: 2-3x total
executor cores, or leave AQE's coalescing to shrink an intentionally high
value).

Generated code stays warm. A long-lived session (a bench pass, a cohort,
the test session) runs the same plans again and again, and Spark caches
each whole-stage-codegen class by its source in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries (Spark's default is 100).
One pass over a mix needs more distinct classes than that: measured with
the JVM's ``CodegenMetrics`` compile counter at seed 1 on 4 cores, the
cold pass compiles ~316 classes for perfbench's relational_mix, ~390 for
curation_mix and ~115 for etl_star. A shuffled walk over ~316 keys
through a 100-entry LRU misses on most lookups: at 100 entries each warm
pass recompiled 248-299 classes (relational_mix), 304-332
(curation_mix) and 80-84 (etl_star), and each fresh class started again
in the JVM interpreter. At 1000 entries the warm passes compiled 0
(relational_mix), 0-12 (curation_mix) and 4-28 (etl_star, all in
``validate_gold``, whose AQE plans vary from run to run); metaspace
stayed within a few MB of the 100-entry runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for correctness-portability plus scale sanity:
# - ANSI off: the reference's coercion semantics are errors->NULL
#   (pd.to_numeric(errors="coerce"), reference src/transform.py:12-21).
#   Query-layer code still uses try_* functions so it stays correct even on
#   an ANSI-enabled session (e.g. the verification driver's own session).
# - AQE on: runtime partition coalescing, skew-join splitting, and
#   dynamic broadcast selection — the knobs that matter most at 100 TB.
# - Arrow on: any mapInPandas/pandas_udf path ships columnar batches.
_DEFAULTS = {
    # local[*] runs everything in the driver JVM, whose 1g default heap is
    # far below this box's RAM; on a real cluster spark-submit's
    # --driver-memory/--executor-memory override this. Only effective when
    # the builder launches the JVM (ignored on an existing session).
    "spark.driver.memory": "8g",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Compiled-class cache, well above the largest repeated per-pass
    # working set (~390 classes for curation_mix, ~316 for relational_mix,
    # ~115 for etl_star); at Spark's default of 100 every warm pass
    # recompiled most of them. A static conf: like spark.driver.memory, only
    # effective when the builder launches the JVM.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "iowa-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — on a real cluster you pass nothing and
    spark-submit's master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
