"""Distributed global ranking — the scalable replacement for
``row_number() OVER (ORDER BY ...)`` with no PARTITION BY, which Spark
executes in a SINGLE partition (the classic 100 TB scale-killer: one task
sorts the world).

The trick is the DataFrame version of RDD ``zipWithIndex``:

1. ``repartitionByRange`` on the order key — one shuffle, ordered
   partition boundaries from a driver-side sample (equal keys land in the
   same partition);
2. ``sortWithinPartitions`` — narrow, no shuffle;
3. ``monotonically_increasing_id`` — per-partition sequential ids assigned
   in the sorted row order: ``id = pid * 2^33 + local_index``, so both the
   partition id and the LOCAL rank fall out with two bit-ops;
4. per-partition row counts (an O(#partitions) aggregate) turn into
   cumulative offsets on the driver, rejoined as a broadcast map.

Total cost: one range shuffle + a narrow sort + an O(#partitions) collect
— versus the single-task global sort of the window form. Results equal
the window form whenever the order key is unique (document ties away:
with duplicate keys any engine's row_number is tie-arbitrary anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from iowa_liquor_sales_spark.caching import pin

_PART_BITS = 33  # monotonically_increasing_id: id = pid << 33 | row_idx


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Append a 1-based global ``row_number`` ordered by ``order_cols``
    (which should be a unique key for deterministic output) without ever
    collapsing to one partition.

    The ranged intermediate is pinned (``caching.pin``, MEMORY_AND_DISK)
    to hold one execution of the range shuffle — see the inline comment.
    That cache entry outlives the call, so it must stay cached until the
    output is forced: pass ``cache_handle=[]`` to receive the persisted
    DataFrame (appended to the list) and ``unpersist()`` it once the
    output is materialized; otherwise it lives until the enclosing
    ``caching.query_scope`` exits.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    with_mid = ranged.withColumn("_mid", F.monotonically_increasing_id())
    pid = F.shiftrightunsigned("_mid", _PART_BITS)
    local = with_mid.withColumn("_pid", pid.cast("long")).withColumn(
        "_lrn", (F.col("_mid") % F.lit(1 << _PART_BITS)) + 1
    )
    # Pin ONE execution of the range shuffle: the offsets job below and the
    # caller's output job would otherwise each re-run repartitionByRange,
    # whose sampled boundaries are not guaranteed identical across jobs —
    # offsets from one partitioning applied to another would corrupt ranks.
    local = pin(local, StorageLevel.MEMORY_AND_DISK)
    if cache_handle is not None:
        cache_handle.append(local)
    # O(#partitions) rows to the driver — bounded by cluster size, not data.
    counts = {
        r["_pid"]: r["_cnt"]
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    }
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("_pid"),
    )
    return local.withColumn(
        out_col, (F.col("_lrn") + offset_expr).cast("long")
    ).drop("_mid", "_pid", "_lrn")


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running (inclusive) sum of ``value_col`` in global ``order_cols``
    order without ever collapsing to one partition — the prefix-sum twin
    of :func:`global_row_number`, replacing
    ``sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` whose
    no-PARTITION-BY window Spark executes as a single-task global sort.

    Same machinery: one ``repartitionByRange`` on the order key (ordered
    partition boundaries from a driver-side sample), a narrow
    ``sortWithinPartitions``, per-partition VALUE sums (an O(#partitions)
    collect, bounded by cluster size) turned into cumulative offsets and
    rejoined as a broadcast map; the within-partition running sum is an
    ordinary window PARTITIONED by the range-partition id, so every
    window partition is one range partition — parallel, never global.
    ``order_cols`` should be a unique key (ties make any engine's
    running sum order-arbitrary). Output columns are ``long``.

    ``value_col``/``out_col`` accept parallel LISTS to compute several
    prefix sums over the SAME ordered relation in one pass (optimization
    round 10): one range shuffle, one persisted relation, one offsets
    collect and one window node serve all of them — callers that need
    two cumulative counts (e.g. per-group ECDFs) previously paid the
    whole machinery twice.
    """
    from pyspark.sql import Window

    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col must have equal length")

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    tagged = ranged.withColumn("_mid", F.monotonically_increasing_id())
    tagged = tagged.withColumn(
        "_pid", F.shiftrightunsigned("_mid", _PART_BITS).cast("long")
    )
    # Pin ONE execution of the range shuffle (same reasoning as
    # global_row_number: the offsets job and the caller's output job
    # must see identical sampled boundaries).
    tagged = pin(tagged, StorageLevel.MEMORY_AND_DISK)
    sums: dict[int, list] = {
        r["_pid"]: [r[f"_s{i}"] for i in range(len(vcols))]
        for r in tagged.groupBy("_pid")
        .agg(
            *[
                F.sum(F.col(v).cast("long")).alias(f"_s{i}")
                for i, v in enumerate(vcols)
            ]
        )
        .collect()
    }
    offsets: dict[int, list[int]] = {}
    acc = [0] * len(vcols)
    for p in sorted(sums):
        offsets[p] = list(acc)
        for i in range(len(vcols)):
            acc[i] += sums[p][i] or 0
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = tagged
    for i, (v, o) in enumerate(zip(vcols, ocols)):
        if offsets:
            offset_expr = F.coalesce(
                F.element_at(
                    F.create_map(
                        *[
                            F.lit(x)
                            for p, offs in sorted(offsets.items())
                            for x in (p, offs[i])
                        ]
                    ),
                    F.col("_pid"),
                ),
                F.lit(0),
            )
        else:  # empty input: no partitions observed
            offset_expr = F.lit(0)
        out = out.withColumn(
            o,
            (F.sum(F.col(v).cast("long")).over(w) + offset_expr).cast(
                "long"
            ),
        )
    return out.drop("_mid", "_pid")
