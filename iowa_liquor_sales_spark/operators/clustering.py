"""Deterministic distributed k-means over embedding columns.

Trains the coarse quantizer that :mod:`.similarity`'s IVF path needs —
Lloyd's algorithm re-expressed so every step is *exact integer
arithmetic*, making the result independent of partitioning, task order,
and engine (the DuckDB oracle unrolls the same iterations in SQL):

- vectors quantize to an int64 1e-6 grid (float sums are
  partition-order dependent; integer sums are exact);
- seeds are the ``k`` vectors with the smallest md5 content hash —
  deterministic without any RNG state;
- assignment = argmin of exact squared L2 on the grid (diffs ≤ ~4e6 per
  dim squared and summed over ≤ a few hundred dims stays well inside
  int64), ties broken by centroid id via struct-min;
- update = per-dim integer sum div count with TRUNCATION toward zero —
  the semantics Spark's ``div`` and DuckDB's integral ``//`` share
  (DuckDB's ``//`` floors only for FLOAT operands; Python's ``//``
  floors, so the driver-side update sign-handles negative sums
  explicitly), keeping centroids on the grid. Clusters that lose all
  members are dropped, not respawned.

Scale shape per iteration: one broadcast of k×d centroid literals, one
narrow distance/argmin pass (no shuffle — the cross join is against a
broadcast local relation), one hash aggregate shuffled on (cid, pos)
whose width is k×d regardless of row count, and a k×d-row collect.
That is the same dataflow as MLlib's KMeans, minus the float
nondeterminism. Driver state is O(k·d) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import pin
from ..functions.hashing import hash60


def quantize_e6(vec) -> F.Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )


def _dist2(q, c) -> F.Column:
    return F.aggregate(
        F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_e6(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    salt: str = "km",
) -> tuple[DataFrame, list[list[int]]]:
    """Run ``iters`` exact Lloyd iterations; returns (assignments, centroids).

    Assignments are (id_col, cid); centroids the final int-grid vectors
    indexed by cid. The assignment DataFrame is the one *after the last
    centroid update would be applied* — i.e. argmin against the returned
    centroids — so callers can hand both to an IVF probe directly.
    """
    spark: SparkSession = df.sparkSession
    q = df.select(F.col(id_col).alias("vid"), quantize_e6(vec_col).alias("q"))
    h = hash60(F.concat(F.lit(salt), F.col("vid").cast("string")))
    seeds = q.withColumn("h", h).orderBy("h", "vid").limit(k).collect()
    cents = {i: list(r["q"]) for i, r in enumerate(seeds)}

    def assign(cents_map):
        cdf = spark.createDataFrame(
            [(cid, c) for cid, c in sorted(cents_map.items())],
            "cid int, c array<bigint>",
        )
        a = q.crossJoin(F.broadcast(cdf)).withColumn("d", _dist2(F.col("q"), F.col("c")))
        best = a.groupBy("vid").agg(
            F.min(F.struct("d", "cid", "q")).alias("m")
        )
        return best.select("vid", F.col("m.cid").alias("cid"), F.col("m.q").alias("q"))

    for _ in range(iters):
        assigned = assign(cents)
        sums = (
            assigned.select("cid", F.posexplode("q").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cents: dict[int, list[int]] = {}
        for r in sums:
            vec = new_cents.setdefault(r["cid"], [0] * len(next(iter(cents.values()))))
            # truncation toward zero, NOT Python floor: embeddings go
            # negative, and the DuckDB oracle's integral `//` truncates
            # (-7 // 2 = -3) while Python's floors (-4) — a latent hash
            # break on any dataset where a (cid, pos) sum is negative.
            s, n = r["s"], r["n"]
            vec[r["pos"]] = -((-s) // n) if s < 0 else s // n
        cents = new_cents  # empty clusters drop out

    final = assign(cents).select(F.col("vid").alias(id_col), "cid")
    return final, [cents[c] for c in sorted(cents)]


def grid_dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    observations: dict | None = None,
    dense_cell_warn: int = 1024,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over 2-D
    integer points, blocked by an ``eps``-sized grid: a point is CORE
    when at least ``min_pts`` points (itself included) sit within
    ``eps``; clusters are the connected components of the core-core
    eps-graph; non-core points within ``eps`` of a core join its
    cluster as BORDER; everything else is NOISE (cluster −1). Border
    ties go to the smallest adjacent cluster id (the deterministic
    resolution of DBSCAN's documented order-dependence).

    Coordinates must be non-negative integers (quantize upstream — the
    same contract as the geohash/z-order ops); distances compare as
    exact int64 ``dx²+dy² ≤ eps²``, so every verdict is bit-portable.

    Scale shape: the neighbor join is an EQUI-join on grid cells — one
    side explodes its 3×3 cell neighborhood (9× fanout, constant), so
    candidates are O(n · density per cell), never all-pairs; the grid
    cell is the standard spatial blocking key (cf. the latitude-band
    radius join). Core flags are one hash aggregate; cluster labels are
    the shared pointer-jumping CC over the core-core edge relation
    (O(log diameter) rounds); the border assign is one more cell-
    blocked join of non-core against the O(cores) labeled relation.

    Self-diagnosis at the contract edge (pass ``observations={}``):
    candidates grow O(n · per-cell density), so a density that grows
    WITH n (points piling into the same cells) bends the wall
    superlinear even though the plan never goes all-pairs — the
    measured 34→287 s growing-density arm in SCALE.md. When asked, the
    operator (a) pre-flights a one-row cell-occupancy aggregate —
    n_points, n_cells, max / p99 cell count, and the exact same-cell
    candidate total Σcnt² (the dominant term of the 3×3 candidate
    volume) — into ``observations["cell_density"]``, setting
    ``grid_too_coarse`` (p99 ≥ ``dense_cell_warn``) with a remedy
    string (quantize finer / shrink eps so occupancy drops), and (b)
    attaches a ``pyspark.sql.Observation`` counting the ACTUAL
    candidate pairs under ``observations["candidates"]``. The
    pre-flight is one O(n) map + O(1)-row reduce (bounded driver
    state); the Observation is free — it rides the existing job.
    NOTE the Observation contract: its metrics populate only when an
    ACTION runs over the returned plan — read
    ``observations["candidates"].get`` strictly AFTER materializing
    the result (count/collect/write); calling ``.get`` first blocks
    until an action happens (indefinitely if none ever does).
    """
    from .graph import connected_components

    p = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
    )
    if observations is not None:
        # Pre-flight cell-occupancy diagnostic: one O(n) map + 1-row
        # reduce. Σcnt² is the EXACT same-cell candidate count (ordered
        # pairs incl. self), the dominant term of the 3×3 volume — the
        # quantity whose growth bends the wall.
        row = (
            p.groupBy(
                F.expr(f"px div {eps}").alias("cx"),
                F.expr(f"py div {eps}").alias("cy"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.sum("cnt").alias("n_points"),
                F.count(F.lit(1)).alias("n_cells"),
                F.max("cnt").alias("max_cell"),
                F.expr("percentile_approx(cnt, 0.99)").alias("p99_cell"),
                F.sum(F.col("cnt") * F.col("cnt")).alias("same_cell_cand"),
            )
            .collect()[0]
        )
        too_coarse = (row["p99_cell"] or 0) >= dense_cell_warn
        observations["cell_density"] = {
            "n_points": row["n_points"],
            "n_cells": row["n_cells"],
            "max_cell": row["max_cell"],
            "p99_cell": row["p99_cell"],
            "same_cell_candidates": row["same_cell_cand"],
            "grid_too_coarse": too_coarse,
            "remedy": (
                (
                    f"p99 cell occupancy {row['p99_cell']} >= "
                    f"{dense_cell_warn}: candidate volume is O(n x "
                    "occupancy) and will dominate the wall — quantize "
                    "coordinates finer or shrink eps so per-cell "
                    "occupancy drops; expect ~9 x same_cell_candidates "
                    f"(~{9 * (row['same_cell_cand'] or 0)}) candidate "
                    "pairs at the current grid"
                )
                if too_coarse
                else None
            ),
        }
    # 3x3 neighborhood explode on the LEFT side; equi-join on the cell.
    offs = F.expr(
        "explode(array(-1L, 0L, 1L))"
    )
    left = (
        p.withColumn("ox", offs)
        .withColumn("oy", F.expr("explode(array(-1L, 0L, 1L))"))
        .select(
            "pid",
            "px",
            "py",
            (F.expr(f"px div {eps}") + F.col("ox")).alias("cx"),
            (F.expr(f"py div {eps}") + F.col("oy")).alias("cy"),
        )
    )
    right = p.select(
        F.col("pid").alias("qid"),
        F.col("px").alias("qx"),
        F.col("py").alias("qy"),
        F.expr(f"px div {eps}").alias("cx"),
        F.expr(f"py div {eps}").alias("cy"),
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))
    cand = left.join(right, ["cx", "cy"])
    if observations is not None:
        from pyspark.sql import Observation

        cand_obs = Observation("dbscan_candidates")
        cand = cand.observe(cand_obs, F.count(F.lit(1)).alias("n"))
        observations["candidates"] = cand_obs
    # The verified neighbor relation is consumed THREE times (degree
    # aggregate, core-core edges inside the CC, border assign) and each
    # consumer would otherwise recompute the 9x-explode candidate join —
    # the single most expensive subtree of the whole operator (the
    # before-plan shows the cell equi-join duplicated per consumer).
    # Persist it; the first materialization is the CC's eager
    # checkpoint, a single job, so there is no multi-consumer race.
    nbrs = pin(
        cand
        .filter((F.col("pid") != F.col("qid")) & (d2 <= eps * eps))
        .select("pid", "qid")
    )
    deg = nbrs.groupBy("pid").agg(F.count(F.lit(1)).alias("n_nbrs"))
    flags = p.join(deg, "pid", "left").select(
        "pid",
        "px",
        "py",
        (F.coalesce(F.col("n_nbrs"), F.lit(0)) + 1 >= min_pts).alias(
            "is_core"
        ),
    )
    # Measured-size join strategy (guide §3.1): cores / core labels /
    # border are O(points) relations, while nbrs is O(points x per-cell
    # density) — here orders of magnitude larger. None of the small
    # sides carries usable size statistics (they hang off the persisted
    # nbrs and an aggregate), so the planner would SortMergeJoin and
    # drag the big pair relation through an exchange + sort per join.
    # One O(n) count of the input decides: broadcast the point-sized
    # sides when they fit, keep the shuffle plan for huge inputs.
    from .graph import broadcast_hint

    hint = broadcast_hint(p.count())
    cores = flags.filter("is_core").select(F.col("pid").alias("cid"))
    core_edges = (
        nbrs.join(hint(cores), nbrs["pid"] == cores["cid"])
        .drop("cid")
        .join(hint(cores), nbrs["qid"] == cores["cid"])
        .select(F.col("pid").alias("doc_a"), F.col("qid").alias("doc_b"))
    )
    # core_edges already carries both directions of every core-core
    # pair (the cell join emits all ordered pairs) — tell the CC so it
    # does not re-symmetrize an 11M-edge relation into 22M rows.
    comp = connected_components(core_edges, symmetric=True)
    # Isolated cores (no core neighbor) form their own singleton cluster.
    core_lbl = (
        cores.join(comp, cores["cid"] == comp["node"], "left")
        .select(
            F.col("cid").alias("pid"),
            F.coalesce(F.col("component"), F.col("cid")).alias("cluster"),
        )
    )
    border = (
        nbrs.join(
            hint(
                core_lbl.withColumnRenamed("pid", "qid").withColumnRenamed(
                    "cluster", "qcluster"
                )
            ),
            "qid",
        )
        .groupBy("pid")
        .agg(F.min("qcluster").alias("bcluster"))
    )
    out = (
        flags.join(hint(core_lbl.select("pid", "cluster")), "pid", "left")
        .join(hint(border), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("bcluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(
                F.col("cluster"),
                F.when(~F.col("is_core"), F.col("bcluster")),
                F.lit(-1),
            )
            .cast("long")
            .alias("cluster"),
        )
    )
    return out
