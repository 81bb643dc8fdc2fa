"""Similarity search over embedding columns (``array<float>``).

Two strategies, per the standard scale ladder:

- :func:`brute_force_topk` — exact cosine top-k. The score is a Catalyst
  higher-order-function dot product (JVM codegen, no Python); top-k is a
  ``row_number`` window or global sort-limit. Exact, O(n·d) per query —
  the right baseline and the verifier for approximate methods.
- :func:`rh_bucketize` / :func:`ann_lsh_topk` — random-hyperplane LSH:
  documents are bucketed by the sign pattern of dot products with
  deterministic ±1 hyperplanes; a query only scores its own bucket.
  At 100 TB the bucketed table is written partitioned by bucket so a query
  touches one partition (partition pruning), turning ANN into a
  broadcast-join + local top-k with no full scan.

Hyperplanes are derived from md5 (see :mod:`..functions.hashing`) so the
DuckDB oracle can reproduce them bit-for-bit as SQL literals.
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iowa_liquor_sales_spark.caching import pin
from iowa_liquor_sales_spark.functions.vectors import cosine_similarity, dot, l2_norm
from iowa_liquor_sales_spark.sources.readers import read_parquet


def rh_component(j: int, k: int) -> float:
    """Deterministic ±1 hyperplane component: low bit of the first hex digit
    of md5('rh_{j}_{k}') — reproducible in any engine with md5."""
    h = hashlib.md5(f"rh_{j}_{k}".encode()).hexdigest()
    return 1.0 if (int(h[0], 16) & 1) == 1 else -1.0


def rh_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    return [[rh_component(j, k) for k in range(dim)] for j in range(n_planes)]


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Plan shape: scan → projected cosine (codegen) → TakeOrderedAndProject
    (per-partition top-k, then merge of k·partitions rows on the driver) —
    no full shuffle/sort even at billions of rows.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cos_sim")
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(exclude_ids))
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "cos_sim")
    )


def rh_bucketize(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    plane_offset: int = 0,
) -> DataFrame:
    """Assign each vector an LSH bucket = integer of sign bits of dot
    products with the deterministic hyperplanes (global plane indices
    ``plane_offset .. plane_offset+n_planes-1`` — distinct offsets give
    independent tables). Narrow projection — at scale, persist
    partitioned/bucketed by this column."""
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = [rh_component(plane_offset + j, kk) for kk in range(dim)]
        p = F.array(*[F.lit(c) for c in plane])
        bucket = bucket + F.when(
            dot(F.col(vec_col), p) > 0, F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return embeddings.withColumn("bucket", bucket)


def ann_lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via **multi-table** random-hyperplane LSH: a
    vector is a candidate if it shares the query's bucket in ANY of the
    ``n_tables`` independent tables (OR-amplification — the standard fix
    for single-table recall collapse; a lone b-bit table needs all b sign
    bits to agree, which starves recall as b grows).

    Plan shape: scan → n_tables bucket columns (narrow projections) →
    broadcast of the single query row → OR-filter → local top-k. At scale,
    persist one bucket column per table and union the per-table partition
    scans.
    """
    b = embeddings
    for t in range(n_tables):
        b = rh_bucketize(
            b, n_planes=n_planes, dim=dim, vec_col=vec_col, plane_offset=t * n_planes
        ).withColumnRenamed("bucket", f"bucket_{t}")
    q = b.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("q_vec"),
        *[F.col(f"bucket_{t}").alias(f"q_bucket_{t}") for t in range(n_tables)],
    )
    match_any = None
    for t in range(n_tables):
        m = F.col(f"bucket_{t}") == F.col(f"q_bucket_{t}")
        match_any = m if match_any is None else (match_any | m)
    cand = b.join(F.broadcast(q), match_any).filter(F.col(id_col) != query_id)
    scored = cand.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("q_vec")).alias("cos_sim"),
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "cos_sim")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (ids only — the score is
    FP-order sensitive at the last bit, ids are stable).

    Default path (``use_arrow``): block-pair matrix multiply — vectors are
    hashed into B bounded blocks, the B-row packed-block relation is
    self-joined on ``blk_a <= blk_b`` (B(B+1)/2 rows), and each task
    numpy-matmuls one block against one block. Exact all-pairs is
    inherently O(n²) compute, but per-task memory is bounded by two
    blocks and there is **no driver-side materialization of the corpus**
    (the round-1 design broadcast a driver ``collect()`` of the whole
    table — an OOM at scale). Shuffle volume is B copies of each block;
    pick ``rows_per_block`` so a block is a few MB. For sub-quadratic
    approximate semantics, compose :func:`rh_bucketize` + a bucket join
    instead.

    The non-Arrow fallback is the pure-Catalyst theta-join form (exact
    same semantics, no Python), useful where Arrow is unavailable.
    """
    if use_arrow:
        return _near_dup_pairs_blocked(embeddings, min_cosine, id_col, vec_col)
    # Precompute each vector's norm ONCE (n aggregates) instead of inside
    # the pair predicate (2·n² aggregates) — same expression tree per
    # value, so results are bit-identical, but the pair stage is one dot
    # product per candidate.
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        l2_norm(F.col(vec_col)).alias("norm_a"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        l2_norm(F.col(vec_col)).alias("norm_b"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("norm_a") * F.col("norm_b"))
            >= min_cosine
        )
        .select("id_a", "id_b")
    )


def _near_dup_pairs_blocked(
    embeddings: DataFrame,
    min_cosine: float,
    id_col: str,
    vec_col: str,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Block-pair all-pairs cosine: ids are hashed into B blocks sized
    ``rows_per_block``; each of the B(B+1)/2 block pairs is one task's
    numpy matmul. Emits (id_a, id_b) with id_a < id_b.

    The only driver-side value is the row COUNT (to size B) — corpus
    bytes never leave the executors, unlike a broadcast-matrix design.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n = embeddings.count()
    # Block count balances two regimes: ceil(n/rows_per_block) keeps a
    # block's bytes bounded (memory safety at corpus scale), while at
    # small n that would yield ~1 block and B(B+1)/2 ≈ 1 task — so raise
    # B until the pair count ≈ 3× the cluster's parallelism (B ≈ √(6P)),
    # never making blocks smaller than 64 rows (per-task overhead).
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    b_mem = -(-n // rows_per_block)
    b_par = min(int((6 * par) ** 0.5) + 1, -(-n // 64))
    n_blocks = int(max(1, b_mem, b_par))
    # Pack each block as PRIMITIVE arrays (ids + row-major flattened
    # vectors), not a list of structs: Arrow moves primitive arrays
    # zero-copy into numpy, where struct lists decode item-by-item in
    # Python (measured ~2x on the matmul stage). The single collect_list
    # guarantees ids and vectors stay aligned; the flatten/transform
    # split happens JVM-side after aggregation.
    packed = pin(
        embeddings.select(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
            .cast("int")
            .alias("blk"),
            F.struct(
                F.col(id_col).cast("long").alias("id"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            ).alias("item"),
        )
        .groupBy("blk")
        .agg(F.collect_list("item").alias("items"))
        .select(
            "blk",
            F.transform("items", lambda it: it["id"]).alias("ids"),
            F.flatten(F.transform("items", lambda it: it["vec"])).alias(
                "flat"
            ),
        )
    )
    # Materialize: both join legs below read the packed relation; lazy,
    # they'd race in one job and run the scan+pack aggregate twice.
    packed.count()
    # Pair generation must stay an EQUI-join: the naive `a.blk <= b.blk`
    # theta-join can only plan as BroadcastNestedLoopJoin, which
    # broadcasts one side — the packed CORPUS — to every executor (the
    # exact O(corpus) single-point materialization this design exists to
    # avoid). Instead each block explodes to its partner ids
    # (blk..B-1), and the equi-join on the partner id shuffles: B(B+1)/2
    # pair rows, corpus bytes moved ~B/2 times — the inherent data
    # motion of exact all-pairs, spread across the cluster.
    joined = (
        packed.select(
            F.col("blk").alias("blk_a"),
            F.col("ids").alias("ids_a"),
            F.col("flat").alias("flat_a"),
            F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias(
                "blk_b"
            ),
        )
        .join(
            packed.select(
                F.col("blk").alias("blk_b"),
                F.col("ids").alias("ids_b"),
                F.col("flat").alias("flat_b"),
            ),
            "blk_b",
        )
        .select("blk_a", "ids_a", "flat_a", "blk_b", "ids_b", "flat_b")
    )

    out_schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
    )

    def _unpack(ids, flat) -> tuple:
        idv = np.asarray(ids, dtype=np.int64)
        mat = np.asarray(flat, dtype=np.float64).reshape(len(idv), -1)
        mat = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
        return idv, mat

    def _block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if len(row.ids_a) == 0 or len(row.ids_b) == 0:
                    continue
                ids_a, unit_a = _unpack(row.ids_a, row.flat_a)
                ids_b, unit_b = _unpack(row.ids_b, row.flat_b)
                sims = unit_a @ unit_b.T
                ii, jj = np.nonzero(sims >= min_cosine)
                ia, ib = ids_a[ii], ids_b[jj]
                if row.blk_a == row.blk_b:
                    keep = ia < ib
                    ia, ib = ia[keep], ib[keep]
                lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                yield pd.DataFrame({"id_a": lo, "id_b": hi})

    return joined.mapInPandas(_block, out_schema)


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    cell (by cosine, deterministic tiebreak on centroid id).

    The quantizer here is deliberately training-free — centroids are the
    first ``n_cells`` vectors by id — so the assignment is reproducible in
    the SQL oracle. A production build would k-means the centroids offline
    and broadcast them exactly the same way; the engine plan (broadcast
    centroids → per-row argmax → cell column) is identical. Pass a FROZEN
    ``centroids`` relation (``cid``, ``cvec`` — e.g. from
    :func:`load_ann_index`) to assign against a prebuilt quantizer
    instead of deriving centroids from this relation; that is also the
    incremental-ingest path (:func:`assign_new_vectors`).

    Scale path: persist partitioned by ``cell`` (:func:`build_ann_index`
    does exactly this); a query then scans only its probe cells
    (partition pruning), like the LSH bucket path.
    """
    cent = (
        centroids
        if centroids is not None
        else embeddings.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    )
    # Hoist the two L2 norms OUT of the per-pair expression
    # (optimization round 10): cosine = dot/(‖v‖·‖c‖) evaluated per
    # (vector, centroid) pair re-ran both array-aggregate norms
    # n_cells× per vector and |V|× per centroid — and Catalyst
    # higher-order functions are interpreted (CodegenFallback), so the
    # redundant passes dominate the assignment wall. Computing each
    # norm once per side feeds the SAME double operands into the SAME
    # division, so csim is bit-identical.
    scored = (
        embeddings.withColumn("_vn", l2_norm(F.col(vec_col)))
        .join(
            F.broadcast(
                cent.withColumn("_cn", l2_norm(F.col("cvec")))
            )
        )
        .select(
            id_col,
            vec_col,
            "cid",
            (
                dot(F.col(vec_col), F.col("cvec"))
                / (F.col("_vn") * F.col("_cn"))
            ).alias("csim"),
        )
    )
    # max_by over a (sim, -cid) struct: deterministic argmax in any engine.
    return scored.groupBy(id_col, vec_col).agg(
        F.max_by(
            F.col("cid"), F.struct(F.col("csim"), (-F.col("cid")).cast("long"))
        ).alias("cell")
    )


def query_probe_cells(
    embeddings: DataFrame,
    query_id: int,
    nprobe: int,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe cell selection (FAISS IndexIVF ``nprobe`` semantics):
    the query's ``nprobe`` nearest coarse cells, ranked by the SAME
    deterministic (cosine desc, cid asc) order the quantizer uses for
    rank-1 assignment — so probe rank 1 is always the cell
    :func:`ivf_assign` would place the query in, and raising nprobe
    strictly widens the candidate set. O(n_cells) rows; the window sorts
    a single broadcast-sized relation. ``centroids`` (``cid``, ``cvec``)
    overrides the derived quantizer, same contract as
    :func:`ivf_assign`."""
    cent = (
        centroids
        if centroids is not None
        else embeddings.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    )
    qv = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("q_vec")
    )
    w = Window.orderBy(F.col("csim").desc(), "cid")
    return (
        qv.join(F.broadcast(cent))
        .select(
            "cid",
            cosine_similarity(F.col("q_vec"), F.col("cvec")).alias("csim"),
        )
        .withColumn("prnk", F.row_number().over(w))
        .filter(F.col("prnk") <= nprobe)
        .select(F.col("cid").alias("p_cell"))
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "AnnIndex | None" = None,
) -> DataFrame:
    """IVF ANN: score only vectors in the query's ``nprobe`` nearest
    cells (:func:`query_probe_cells`). Recall < 1 by construction at
    nprobe=1; raising nprobe trades scan width for recall exactly as in
    FAISS IndexIVF — :func:`ann_recall_curve` measures the trade.

    Pass a prebuilt ``index`` (:func:`build_ann_index` /
    :func:`load_ann_index`) and the query skips the corpus-wide
    assignment scan entirely: candidates come from the index's
    cell-partitioned assignment relation (the broadcast probe join on
    the PARTITION column prunes the scan to the probe cells) and probe
    selection reads the O(n_cells) stored centroids. Results are
    bit-identical to the in-query-trained form — the index is a
    materialization, not a different algorithm."""
    assigned = (
        index.assignments
        if index is not None
        else ivf_assign(
            embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )
    )
    probes = query_probe_cells(
        embeddings, query_id, nprobe, n_cells=n_cells, id_col=id_col,
        vec_col=vec_col,
        centroids=index.centroids if index is not None else None,
    )
    qv = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("q_vec")
    )
    cand = (
        assigned.join(F.broadcast(probes), F.col("cell") == F.col("p_cell"))
        .filter(F.col(id_col) != query_id)
        .join(F.broadcast(qv))
    )
    scored = cand.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("q_vec")).alias("cos_sim"),
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "cos_sim")
    )


def ann_range_search(
    embeddings: DataFrame,
    query_id: int,
    min_cos: float,
    n_cells: int = 16,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF RANGE search (FAISS ``range_search`` semantics): every vector
    in the query's ``nprobe`` probe cells with cosine >= ``min_cos`` —
    the radius-query companion to :func:`ivf_topk`'s top-k. Top-k
    answers "give me the k closest"; range answers "give me EVERYTHING
    this similar", the primitive behind near-dup sweeps around a probe
    document, contamination blast-radius checks, and recall-oriented
    retrieval where the result size is data-dependent.

    Same probe-cell contract as :func:`ivf_topk` (recall < 1 by
    construction at nprobe=1, widening monotonically with nprobe via
    :func:`query_probe_cells`'s deterministic cell ranking) and the
    same scale shape: candidates are the probe cells' contents only —
    never a corpus scan — and no window at all (range search has no
    global top-k sort; the threshold filter is embarrassingly
    parallel, which is exactly why FAISS offers it alongside top-k).

    Returns (vec_id, cos_e6) — the similarity floored to a 1e-6 grid
    (floor of bit-identical IEEE doubles, engine-portable).
    """
    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    probes = query_probe_cells(
        embeddings, query_id, nprobe,
        n_cells=n_cells, id_col=id_col, vec_col=vec_col,
    )
    qv = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("q_vec")
    )
    cand = (
        assigned.join(F.broadcast(probes), F.col("cell") == F.col("p_cell"))
        .filter(F.col(id_col) != query_id)
        .join(F.broadcast(qv))
    )
    sim = cosine_similarity(F.col(vec_col), F.col("q_vec"))
    return (
        cand.select(F.col(id_col), sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cos)
        .select(
            id_col,
            F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_e6"),
        )
    )


def label_centroids_e6(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label elementwise centroid accumulators: (label, pos, sum_e6, n).

    The IVF coarse-quantizer building block (and the reduce step of any
    distributed k-means iteration). Elements are quantized to an integer
    1e-6 grid *before* summing, so the aggregate is exact int64 arithmetic
    — float sums are partition-order dependent and would never
    hash-match across engines or even across two Spark runs. The caller
    divides sum_e6 / (n * 1e6) to get the mean vector.

    Dataflow: posexplode → hash aggregate on (label, pos). One shuffle
    whose width is labels × dims — independent of row count, so the
    reduce side stays tiny even over billions of vectors (map-side
    partial aggregation does the heavy lifting).
    """
    ex = df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "x"))
    q = F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)).cast("long")
    return (
        ex.withColumn("x_e6", q)
        .groupBy(label_col, F.col("pos").cast("int").alias("pos"))
        .agg(F.sum("x_e6").alias("sum_e6"), F.count(F.lit(1)).alias("n"))
    )


def _sq8_code(x, mn: float, mx: float):
    # floor((x - mn) * 255 / (mx - mn) + 0.5): identical literal expression
    # tree in Spark, DuckDB, and Python (see ann_sq8_topk) — IEEE double
    # ops are deterministic, so the three agree bit-for-bit.
    if mx <= mn:
        return F.lit(0).cast("long")
    return F.floor(
        (x.cast("double") - F.lit(mn)) * F.lit(255.0) / F.lit(mx - mn)
        + F.lit(0.5)
    ).cast("long")


def ann_sq8_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by INT8 scalar quantization (the FAISS "SQ8"
    ladder rung): each dimension is affinely mapped to integer codes
    0..255 using global per-dim min/max, and candidates are ranked by the
    exact INTEGER dot product of codes — 4x fewer bytes per vector than
    float32 and a fully integer (engine-portable, tie-stable) score.

    Scale shape: the quantization params are one O(dim) aggregate; scoring
    is a codegen'd integer expression per row (no Python, no shuffle);
    ranking is a top-k window. At 100 TB the codes would be written once
    as a byte-array column and scanned instead of the float vectors —
    this operator is the build-and-score path.
    """
    # ONE aggregate job fetches the 2·dim quantization params AND the
    # query vector — via posexplode into (pos, x) rows and a 64-group
    # aggregate. The previous single-row form (129 min/max expressions
    # over element_at) was one job too, but its whole-stage codegen alone
    # cost ~3s — far more than scanning the data; this plan's expression
    # tree is 3 aggregates wide and compiles in milliseconds. Shuffle is
    # O(dim) rows per partition (map-side partials), any corpus size.
    ex = embeddings.select(
        F.col(id_col).alias("_id"), F.posexplode(F.col(vec_col))
    )
    stats = (
        ex.groupBy("pos")
        .agg(
            F.min("col").alias("mn"),
            F.max("col").alias("mx"),
            F.first(
                F.when(F.col("_id") == query_id, F.col("col")),
                ignorenulls=True,
            ).alias("qx"),
        )
        .collect()
    )
    by_pos = {r["pos"]: r for r in stats}
    mins = [float(by_pos[i]["mn"]) for i in range(dim)]
    maxs = [float(by_pos[i]["mx"]) for i in range(dim)]
    qvec = [float(by_pos[i]["qx"]) for i in range(dim)]
    qcodes = []
    for i in range(dim):
        if maxs[i] <= mins[i]:
            qcodes.append(0)
        else:
            import math

            qcodes.append(
                int(
                    math.floor(
                        (qvec[i] - mins[i]) * 255.0 / (maxs[i] - mins[i])
                        + 0.5
                    )
                )
            )
    # Score as ONE higher-order aggregate over array literals rather than
    # a dim-term expression chain: identical arithmetic per element
    # (floor((x-mn)*255/(mx-mn)+0.5) * qcode, exact integer sum — order-
    # free), but the expression tree is O(1) in dim, so codegen compiles
    # in milliseconds where the unrolled 64-term chain cost ~1s — pure
    # fixed overhead at bench scale and pointless at any scale.
    mn_arr = F.array(*[F.lit(v) for v in mins])
    mx_arr = F.array(*[F.lit(v) for v in maxs])
    qc_arr = F.array(*[F.lit(int(c)).cast("long") for c in qcodes])
    score = F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.element_at(mx_arr, i) <= F.element_at(mn_arr, i),
            F.lit(0).cast("long"),
        ).otherwise(
            F.floor(
                (
                    F.element_at(F.col(vec_col), i).cast("double")
                    - F.element_at(mn_arr, i)
                )
                * F.lit(255.0)
                / (F.element_at(mx_arr, i) - F.element_at(mn_arr, i))
                + F.lit(0.5)
            ).cast("long")
        )
        * F.element_at(qc_arr, i),
    )
    scored = embeddings.filter(F.col(id_col) != query_id).select(
        F.col(id_col), score.alias("qdot")
    )
    w = Window.orderBy(F.col("qdot").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "qdot")
    )


def pq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    m_sub: int = 8,
    ksub: int = 4,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "AnnIndex | None" = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze, Schmid: "Product
    quantization for nearest neighbor search", TPAMI 2011) — the
    memory-ladder rung below SQ8: each vector compresses to ``m_sub``
    small codes (8 bytes/vector at the defaults vs 64 for SQ8 codes and
    256 for float32), and candidates rank by asymmetric distance
    computation (ADC) — a sum of ``m_sub`` table lookups, no float math
    on the corpus side.

    Deterministic end to end, same conventions as
    :mod:`..operators.clustering`:

    - vectors quantize to the int 1e-6 grid and split into ``m_sub``
      contiguous subvectors of ``dim // m_sub`` dims;
    - each subspace trains its own ``ksub``-centroid codebook with
      ``iters`` exact Lloyd iterations (md5-content-hash seeding, exact
      int64 squared distances, truncating-div centroid updates — the
      kmeans_e6 conventions, so the DuckDB oracle unrolls identically);
    - encoding = per-(vector, subspace) argmin, ties to lower cid;
    - the query becomes an (m_sub × ksub) LUT of exact integer
      distances; ADC score = sum of m_sub lookups — integer, engine-
      portable, tie-stable (ties break on vector id).

    Scale shape: training/encode touch each row ``ksub`` times via a
    broadcast of the O(m·ksub) codebook (no shuffle on the corpus);
    the per-iteration update is a hash aggregate of width m·ksub·dsub
    independent of row count; ADC is one broadcast LUT join + a
    map-side-combinable per-vector sum + TakeOrderedAndProject.
    Driver state is the O(m·ksub·dsub) codebook — the same documented
    contract as kmeans_e6.

    With a prebuilt ``index`` (from :func:`build_ann_index(pq=True)
    <build_ann_index>`) the Lloyd train and the corpus encode are both
    skipped: codes come from the stored relation and the LUT from the
    stored codebook, bit-identically.
    """
    if index is not None:
        from .clustering import quantize_e6

        q = embeddings.select(
            F.col(id_col).alias("vid"), quantize_e6(vec_col).alias("q")
        )
        codes = index.pq_codes.select("vid", "m", "cid")
        cents = {
            (r["m"], r["cid"]): list(r["c"])
            for r in index.pq_codebook.collect()
        }
        return _pq_adc_topk(q, codes, cents, query_id, k, dim // m_sub, id_col)
    q, codes, cents = _pq_train_encode(
        embeddings, m_sub, ksub, iters, dim, id_col, vec_col
    )
    return _pq_adc_topk(q, codes, cents, query_id, k, dim // m_sub, id_col)


def _pq_train_encode(
    embeddings: DataFrame,
    m_sub: int,
    ksub: int,
    iters: int,
    dim: int,
    id_col: str,
    vec_col: str,
    encode_ids: DataFrame | None = None,
):
    """Shared PQ train/encode stage (see :func:`pq_topk` for the
    conventions): returns (quantized base relation, (vid, m, cid) code
    relation, {(m, cid): centroid} codebook dict). Codebooks always
    train on the FULL corpus; when ``encode_ids`` (a single-column
    ``vid`` relation) is given, only those vectors are encoded — the
    IVF-PQ path encodes just the probe cell, per-vector encoding being
    independent of every other vector."""
    from ..functions.hashing import hash60
    from .clustering import _dist2, quantize_e6

    spark = embeddings.sparkSession
    dsub = dim // m_sub
    q = embeddings.select(
        F.col(id_col).alias("vid"), quantize_e6(vec_col).alias("q")
    )
    sub = q.select(
        "vid",
        F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m"),
        "q",
    ).select(
        "vid",
        "m",
        F.expr(f"slice(q, m * {dsub} + 1, {dsub})").alias("sq"),
    )
    h = hash60(F.concat(F.lit("pq"), F.col("vid").cast("string")))
    seeds = q.withColumn("h", h).orderBy("h", "vid").limit(ksub).collect()
    cents: dict[tuple[int, int], list[int]] = {}
    for cid, r in enumerate(seeds):
        full = list(r["q"])
        for m in range(m_sub):
            cents[(m, cid)] = full[m * dsub : (m + 1) * dsub]

    def encode(cents_map, base=None):
        cdf = spark.createDataFrame(
            [(m, cid, c) for (m, cid), c in sorted(cents_map.items())],
            "m int, cid int, c array<bigint>",
        )
        a = (base if base is not None else sub).join(
            F.broadcast(cdf), "m"
        ).withColumn("d", _dist2(F.col("sq"), F.col("c")))
        best = a.groupBy("vid", "m").agg(
            F.min(F.struct("d", "cid", "sq")).alias("b")
        )
        return best.select(
            "vid", "m", F.col("b.cid").alias("cid"), F.col("b.sq").alias("sq")
        )

    for _ in range(iters):
        assigned = encode(cents)
        sums = (
            assigned.select("m", "cid", F.posexplode("sq").alias("pos", "x"))
            .groupBy("m", "cid", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cents: dict[tuple[int, int], list[int]] = {}
        for r in sums:
            vec = new_cents.setdefault((r["m"], r["cid"]), [0] * dsub)
            s, n = r["s"], r["n"]
            # truncation toward zero — the Spark div / DuckDB integral //
            # semantics (see clustering.kmeans_e6)
            vec[r["pos"]] = -((-s) // n) if s < 0 else s // n
        cents = new_cents

    final_base = sub if encode_ids is None else sub.join(encode_ids, "vid")
    return q, encode(cents, final_base).select("vid", "m", "cid"), cents


def _pq_adc_topk(
    q: DataFrame,
    codes: DataFrame,
    cents: dict,
    query_id: int,
    k: int,
    dsub: int,
    id_col: str,
) -> DataFrame:
    """Shared PQ ADC scoring stage: build the query LUT from the
    codebook, sum per-vector lookups, TakeOrdered top-k."""
    spark = q.sparkSession
    qrow = q.filter(F.col("vid") == query_id).head()
    qfull = list(qrow["q"])
    lut_rows = []
    for (m, cid), c in sorted(cents.items()):
        qs = qfull[m * dsub : (m + 1) * dsub]
        qd = sum((a - b) * (a - b) for a, b in zip(qs, c))
        lut_rows.append((m, cid, qd))
    lut = spark.createDataFrame(lut_rows, "m int, cid int, qd long")
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vid")
        .agg(F.sum("qd").alias("adc"))
        .filter(F.col("vid") != query_id)
    )
    top = adc.orderBy("adc", "vid").limit(k)
    w = Window.orderBy("adc", "vid")
    return top.select(
        F.col("vid").alias(id_col),
        F.row_number().over(w).cast("int").alias("rnk"),
        F.col("adc").cast("long").alias("adc"),
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 1,
    m_sub: int = 8,
    ksub: int = 4,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "AnnIndex | None" = None,
) -> DataFrame:
    """IVF-PQ ANN — the FAISS IndexIVFPQ composition (Jégou et al.,
    TPAMI 2011 §V): the coarse IVF quantizer (:func:`ivf_assign`,
    probe-1) restricts candidates to the query's cell, then PQ
    asymmetric-distance lookups rank ONLY those candidates. Memory per
    vector is the cell id + m_sub codes (9 bytes at the defaults);
    query cost is one LUT build + O(cell size) integer sums instead of
    O(corpus).

    Scale path: persist codes partitioned by cell — a query prunes to
    its probe cells at the scan, the ADC join is against an O(m·ksub)
    broadcast LUT, and the per-vector sum is map-side combinable.
    Recall < 1 by construction (coarse quantization on top of PQ
    quantization error); ``nprobe`` widens the coarse stage to the
    query's nprobe nearest cells (:func:`query_probe_cells`), exactly
    as with the float IVF tier; retrain codebooks offline at
    production scale — :func:`build_ann_index(pq=True) <build_ann_index>`
    materializes exactly that, and passing the result as ``index`` makes
    this query read prebuilt cell-partitioned codes (probe-cell
    partition pruning) plus the O(m·ksub) stored codebook instead of
    retraining; results are bit-identical.
    """
    if index is not None:
        probes = query_probe_cells(
            embeddings, query_id, nprobe, n_cells=n_cells, id_col=id_col,
            vec_col=vec_col, centroids=index.centroids,
        )
        from .clustering import quantize_e6

        q = embeddings.select(
            F.col(id_col).alias("vid"), quantize_e6(vec_col).alias("q")
        )
        codes = (
            index.pq_codes.join(
                F.broadcast(probes), F.col("cell") == F.col("p_cell")
            )
            .filter(F.col("vid") != query_id)
            .select("vid", "m", "cid")
        )
        cents = {
            (r["m"], r["cid"]): list(r["c"])
            for r in index.pq_codebook.collect()
        }
        return _pq_adc_topk(q, codes, cents, query_id, k, dim // m_sub, id_col)
    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    probes = query_probe_cells(
        embeddings, query_id, nprobe, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    cand = (
        assigned.join(F.broadcast(probes), F.col("cell") == F.col("p_cell"))
        .select(F.col(id_col).alias("vid"))
    )
    # Codebooks train on the full corpus; ONLY the probe cells encode
    # (per-vector encoding is independent), so the scored relation is
    # O(sum of probe-cell sizes) rows with no full-corpus codes join.
    q, codes, cents = _pq_train_encode(
        embeddings, m_sub, ksub, iters, dim, id_col, vec_col,
        encode_ids=cand,
    )
    return _pq_adc_topk(q, codes, cents, query_id, k, dim // m_sub, id_col)


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Distributed covariance (Gram) matrix of an embedding column — the
    O(N·d²) aggregation that PCA / whitening / Mahalanobis all start
    from; the O(d³) eigendecomposition that follows is driver-trivial
    (d×d), so THIS is the part that must scale.

    Components are quantized to exact integers (``round(x·scale)``) so
    the d² sums are partition-order exact int64 (|x|≤1, scale 1e6, so a
    product is ≤1e12 — millions of rows of headroom per sum before
    overflow; at larger N, lower ``scale``). The upper-triangle pair
    terms are generated WITHIN each row by two chained ``posexplode``
    passes (the second over a ``slice`` from the first's position) —
    zero joins, zero shuffles until the final map-side-combinable
    reduce into d(d+1)/2 groups.

    Returns (i, j, n_vecs, sum_xy, sum_x, sum_y, cov_milli) for i ≤ j;
    cov = E[xy] − E[x]E[y] over the scaled ints, double division only
    at the end, emitted as floor(cov × 1000) BIGINT (hash-stable).
    """
    qarr = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("long"),
    )
    a = df.select(F.posexplode(qarr).alias("i", "xi"), qarr.alias("arr"))
    b = a.select(
        "i",
        "xi",
        F.posexplode(
            F.slice(
                F.col("arr"), F.col("i") + 1, F.size("arr") - F.col("i")
            )
        ).alias("jj", "xj"),
    )
    agg = b.groupBy(
        F.col("i"), (F.col("i") + F.col("jj")).alias("j")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("xi") * F.col("xj")).alias("sum_xy"),
        F.sum("xi").alias("sum_x"),
        F.sum("xj").alias("sum_y"),
    )
    cov = (
        F.col("sum_xy") / F.col("n_vecs")
        - (F.col("sum_x") / F.col("n_vecs"))
        * (F.col("sum_y") / F.col("n_vecs"))
    )
    return agg.select(
        "i", "j", "n_vecs", "sum_xy", "sum_x", "sum_y",
        F.floor(cov * F.lit(1000.0)).cast("long").alias("cov_milli"),
    )


def power_iteration_pc1(
    cov: DataFrame,
    dim: int,
    iters: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top principal component by power iteration over a covariance
    relation ``(i, j, cov_scaled)`` (upper triangle, i <= j — e.g. from
    :func:`embedding_covariance`): v ← C·v, renormalized to an
    integer-scaled unit vector each round. The O(N·d²) covariance build
    is the distributed stage; the iteration itself touches only the
    O(d²) matrix relation — same cost model as the label phase of the
    graph algorithms.

    Exactness discipline: matrix entries are pre-quantized
    (sign-symmetric ``cov_milli div 10^6``, ≤1e9, all-integer) and
    vector components are
    ≤``scale``, so every multiply-accumulate is exact int64 for
    d ≤ 64; before the norm, the raw product vector is re-quantized by
    an integer ``div 2^30`` so its square-sum also stays exact. The
    only floats are one correctly-rounded ``sqrt`` and one rounded
    division per component per round — deterministic on any
    partitioning and rendered bit-identically by a generated
    CTE-replay oracle (the Borůvka oracle discipline).

    Returns (i, v_scaled) — the unit eigenvector × ``scale``, sign
    fixed so the largest-|component| entry (ties: lowest i) is
    positive.
    """
    c_q = F.expr(
        "CASE WHEN cov_milli < 0 THEN -((-cov_milli) div 1000000)"
        " ELSE cov_milli div 1000000 END"
    ).alias("c")
    # Checkpoint the O(d²) matrix once and the O(d) vector per round
    # (optimization round 10): sym's lineage contains the O(N·d²)
    # covariance build, and each round references sym once and the
    # previous v twice (product + norm) — left lazy the unrolled chain
    # re-inlined the covariance build ~2^iters-fold (before plan: 112
    # scans / 198 exchanges). Results and the CTE-replay oracle are
    # unchanged.
    upper = cov.select("i", "j", c_q)
    sym = upper.unionAll(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("c")
        )
    ).localCheckpoint(eager=True)
    spark = cov.sparkSession
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("j"),
        F.lit(int(scale)).alias("v"),
    )
    for _ in range(iters):
        w = (
            sym.join(v, "j")
            .groupBy("i")
            .agg(
                # sign-symmetric quantization: Spark's `div` truncates
                # while ANSI `//` floors — they differ on negatives, so
                # divide magnitudes only.
                F.expr(
                    "CASE WHEN SUM(c * v) < 0"
                    " THEN -(CAST(-SUM(c * v) AS BIGINT) div 1073741824)"
                    " ELSE CAST(SUM(c * v) AS BIGINT) div 1073741824 END"
                ).alias("wq")
            )
        )
        nrm = w.agg(
            F.sqrt(F.sum(F.col("wq") * F.col("wq")).cast("double"))
            .alias("n")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"),
            F.round(F.lit(float(scale)) * F.col("wq") / F.col("n"), 0)
            .cast("long")
            .alias("v"),
        ).localCheckpoint(eager=True)
    pick = v.orderBy(F.abs(F.col("v")).desc(), F.col("j").asc()).limit(1)
    sgn = pick.select(
        F.when(F.col("v") < 0, F.lit(-1)).otherwise(F.lit(1)).alias("s")
    )
    return (
        v.crossJoin(F.broadcast(sgn))
        .select(
            F.col("j").alias("i"),
            (F.col("v") * F.col("s")).alias("v_scaled"),
        )
        .orderBy("i")
    )


def hard_negatives(
    embeddings: DataFrame,
    n_anchors: int = 8,
    k: int = 5,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor vector, the ``k`` NEAREST vectors that carry a DIFFERENT
    pseudo-label — the examples a contrastive/triplet objective learns
    the most from (nearest wrong-label beats random negatives; see e.g.
    the in-batch/ANCE hard-negative literature). Pseudo-labels are the
    IVF coarse cells (:func:`ivf_assign`), the same stand-in a
    production pipeline would swap for real labels or cluster ids.

    Determinism: anchors are the ``n_anchors`` smallest ids; distances
    are exact int64 squared L2 on the 1e-6 grid; per-anchor ranking
    ties break on the candidate id.

    Scale shape: the anchor set (vectors + cells) broadcasts as an
    O(n_anchors) relation; candidates compute one integer distance per
    (row, anchor) inside codegen with no corpus shuffle, and the
    per-anchor top-k is a rank-limited window PARTITIONED by anchor —
    Spark's window-group-limit turns it into per-partition heaps, never
    a single-partition sort.
    """
    from .clustering import _dist2, quantize_e6

    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    q = assigned.select(
        F.col(id_col).alias("vid"),
        quantize_e6(vec_col).alias("q"),
        "cell",
    )
    # genuinely the n_anchors SMALLEST ids (TakeOrdered) — a `vid <
    # n_anchors` filter would silently yield fewer/zero anchors on id
    # spaces that are not 0-based contiguous (filtered corpora)
    anchors = (
        q.orderBy("vid")
        .limit(n_anchors)
        .select(
            F.col("vid").alias("anchor_id"),
            F.col("q").alias("aq"),
            F.col("cell").alias("a_cell"),
        )
    )
    scored = (
        q.join(F.broadcast(anchors), F.col("cell") != F.col("a_cell"))
        .select(
            "anchor_id",
            F.col("vid"),
            _dist2(F.col("q"), F.col("aq")).alias("dist2"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("dist2", "vid")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "anchor_id",
            "rnk",
            F.col("vid").alias(id_col),
            F.col("dist2").cast("long").alias("dist2"),
        )
    )


def ann_recall_report(
    embeddings: DataFrame,
    n_queries: int = 4,
    k: int = 10,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-quality observability: per query anchor, recall@k of the
    probe-1 IVF index against the exact answer ON THE SAME METRIC
    (int64 squared L2 on the 1e-6 grid, ties to lower id) — the report
    a production vector store runs continuously to catch index drift
    (cell imbalance after ingest, stale centroids) before users do.

    Output: (query_id, n_exact, n_hits, recall_ppm) — exact-integer
    columns, engine-portable. recall < 1e6 here is EXPECTED (probe-1
    coarse quantization); a DROP over time is the signal.

    Scale shape: both arms are the hard_negatives dataflow — broadcast
    anchors, per-row codegen distances, rank-limited windows
    partitioned by anchor — plus one tiny join of two O(queries x k)
    relations. No full-corpus shuffle anywhere.
    """
    from .clustering import _dist2, quantize_e6

    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    q = assigned.select(
        F.col(id_col).alias("vid"),
        quantize_e6(vec_col).alias("q"),
        "cell",
    )
    anchors = (
        q.orderBy("vid")
        .limit(n_queries)
        .select(
            F.col("vid").alias("query_id"),
            F.col("q").alias("aq"),
            F.col("cell").alias("a_cell"),
        )
    )
    scored = q.join(F.broadcast(anchors), F.col("vid") != F.col("query_id")).select(
        "query_id",
        "a_cell",
        "vid",
        "cell",
        _dist2(F.col("q"), F.col("aq")).alias("dist2"),
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "vid")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vid")
    )
    ivf = (
        scored.filter(F.col("cell") == F.col("a_cell"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("vid").alias("ivf_vid"))
    )
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"])
        & (exact["vid"] == ivf["ivf_vid"]),
    ).groupBy(exact["query_id"]).agg(F.count(F.lit(1)).alias("n_hits"))
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "coalesce(n_hits, 0) * 1000000 div n_exact"
            ).alias("recall_ppm"),
        )
    )


def ann_recall_curve(
    embeddings: DataFrame,
    nprobes: tuple = (1, 2, 4),
    n_queries: int = 4,
    k: int = 10,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall-vs-nprobe curve for the IVF index: per (nprobe, anchor),
    recall@k of the nprobe-cell probe set against the exact answer on
    the same int64 squared-L2 metric — the tuning report behind the
    FAISS ``nprobe`` lever. Probe sets NEST (probe ranks come from one
    deterministic (cosine desc, cid asc) ordering per anchor, shared
    with :func:`query_probe_cells`), so recall_ppm is monotone
    non-decreasing in nprobe by construction; the curve quantifies how
    fast it climbs, which is the number a production store uses to pick
    nprobe per latency budget.

    Scale shape: ONE scored relation (broadcast anchors, per-row
    codegen distances) feeds both the exact arm and every nprobe arm —
    the nprobe fan-out multiplies only the O(queries × probe-cells)
    candidate subset, not the corpus scan. Probe ranking is an
    O(queries × n_cells) window. No full-corpus shuffle anywhere.
    """
    from .clustering import _dist2, quantize_e6

    spark = embeddings.sparkSession
    max_np = max(nprobes)
    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    # q (the assigned corpus — a broadcast-centroid argmax aggregate,
    # the operator's most expensive subtree) is consumed by anchors,
    # probes and the scored relation; scored by the exact arm and every
    # nprobe arm. Left lazy each consumer re-inlined the assignment
    # (before plan: 30 scans of the corpus). Persist both; the anchor /
    # probe broadcast builds materialize q's cache before the final
    # job, so the scored fill is single-writer (optimization round 10).
    q = pin(assigned.select(
        F.col(id_col).alias("vid"),
        quantize_e6(vec_col).alias("q"),
        F.col(vec_col).alias("vec"),
        "cell",
    ))
    anchors = (
        q.orderBy("vid")
        .limit(n_queries)
        .select(
            F.col("vid").alias("query_id"),
            F.col("q").alias("aq"),
            F.col("vec").alias("avec"),
        )
    )
    cent = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), "cid")
    probes = (
        anchors.join(F.broadcast(cent))
        .select(
            "query_id",
            "cid",
            cosine_similarity(F.col("avec"), F.col("cvec")).alias("csim"),
        )
        .withColumn("prnk", F.row_number().over(wp))
        .filter(F.col("prnk") <= max_np)
        .select("query_id", F.col("cid").alias("p_cell"), "prnk")
    )
    nps = spark.createDataFrame([(int(n),) for n in nprobes], "nprobe int")
    probe_sets = probes.join(
        F.broadcast(nps), probes["prnk"] <= nps["nprobe"]
    ).select(
        "nprobe", F.col("query_id").alias("p_qid"), "p_cell"
    )
    scored = pin(q.join(
        F.broadcast(anchors.select("query_id", "aq")),
        F.col("vid") != F.col("query_id"),
    ).select(
        "query_id",
        "vid",
        "cell",
        _dist2(F.col("q"), F.col("aq")).alias("dist2"),
    ))
    w = Window.partitionBy("query_id").orderBy("dist2", "vid")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vid")
    )
    wnp = Window.partitionBy("nprobe", "query_id").orderBy("dist2", "vid")
    ivf = (
        scored.join(
            F.broadcast(probe_sets),
            (F.col("query_id") == F.col("p_qid"))
            & (F.col("cell") == F.col("p_cell")),
        )
        .withColumn("rnk", F.row_number().over(wnp))
        .filter(F.col("rnk") <= k)
        .select("nprobe", "query_id", F.col("vid").alias("ivf_vid"))
    )
    hits = (
        exact.join(
            ivf,
            (exact["query_id"] == ivf["query_id"])
            & (exact["vid"] == ivf["ivf_vid"]),
        )
        .groupBy("nprobe", exact["query_id"])
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        per_q.join(F.broadcast(nps))
        .join(hits, ["nprobe", "query_id"], "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "coalesce(n_hits, 0) * 1000000 div n_exact"
            ).alias("recall_ppm"),
        )
    )


def kcenter_greedy(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center selection (Gonzalez 1985; the farthest-point
    coreset used for DIVERSITY subset selection of training data): start
    from the min-id point, then ``k - 1`` times add the point farthest
    from the already-chosen set. A 2-approximation of the optimal
    k-center radius — the standard "cover the embedding space with k
    exemplars" primitive.

    Determinism: vectors quantize to an integer 1e-3 grid, distances are
    exact int64 squared euclidean, argmax ties break on the id — every
    round's pick is total-ordered, so the whole greedy trajectory is
    engine-replayable (chained-CTE oracle, one round per CTE).

    Scale shape: the chosen set is O(k) driver rows (same bounded-state
    contract as bloom_build / k-means centroids); each round is one
    broadcast join of those k rows against the corpus, a min per point,
    and a TakeOrdered(1) — k scans total, no quadratic term anywhere.

    Returns (round, id, sel_dist): the selection order and each pick's
    squared distance to the set chosen before it (0 for the seed).
    """
    q = df.select(
        F.col(id_col).alias("pid"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(x * 1000) as bigint))"
        ).alias("q"),
    ).localCheckpoint(eager=True)
    dist = (
        "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, t) -> acc + t)"
    )
    seed = q.orderBy("pid").limit(1).collect()[0]
    chosen = [(1, seed["pid"], 0, seed["q"])]
    for rnd in range(2, k + 1):
        cdf = F.broadcast(
            q.sparkSession.createDataFrame(
                [(c[1], c[3]) for c in chosen], ["cid", "cq"]
            )
        )
        far = (
            q.crossJoin(cdf)
            .select("pid", "q", F.expr(dist).alias("d"))
            .groupBy("pid", "q")
            .agg(F.min("d").alias("mind"))
            .orderBy(F.col("mind").desc(), F.col("pid"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((rnd, far["pid"], int(far["mind"]), far["q"]))
    return q.sparkSession.createDataFrame(
        [(r, p, d) for r, p, d, _ in chosen],
        "round int, vec_id long, sel_dist long",
    )


def ivf_cell_report(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index-health report: per coarse cell, how many vectors live
    there and the cell's exact ppm share of the corpus — the imbalance
    monitor that pairs with :func:`ann_recall_report` (recall drift is
    the SYMPTOM; a ballooning cell after skewed ingest is the usual
    CAUSE, because probe-1 latency is the biggest cell you probe and
    recall collapses for queries landing in starved cells).

    Cells with zero vectors still appear (n_vecs = 0) — a starved cell
    is signal, not absence. One broadcast-centroid argmax
    (:func:`ivf_assign`) + one O(n_cells) aggregate; nothing here
    shuffles more than the cell histogram.

    Returns (cell, n_vecs, share_ppm).
    """
    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    spark = embeddings.sparkSession
    cells = spark.range(n_cells).select(F.col("id").cast("long").alias("cell"))
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    total = counts.agg(F.sum("n_vecs").alias("total"))
    return (
        cells.join(counts, "cell", "left")
        .join(F.broadcast(total))
        .select(
            "cell",
            F.coalesce(F.col("n_vecs"), F.lit(0)).cast("long").alias("n_vecs"),
            F.expr(
                "coalesce(n_vecs, 0) * 1000000 div total"
            ).alias("share_ppm"),
        )
    )


class AnnIndex(NamedTuple):
    """A persisted ANN index: the production artifact
    :func:`build_ann_index` writes and every ``*_topk(index=...)`` query
    reads. ``centroids`` is the O(n_cells) coarse quantizer,
    ``assignments`` the cell-PARTITIONED (id, vector, cell) relation,
    and — when PQ codes were built — ``pq_codebook`` the O(m·ksub)
    subspace codebook plus ``pq_codes`` the cell-partitioned compressed
    codes."""

    centroids: DataFrame
    assignments: DataFrame
    pq_codebook: DataFrame | None = None
    pq_codes: DataFrame | None = None


# The relations build_ann_index writes for the embeddings corpus
# (vec_id bigint, embedding array<float>), as inferring their files gives
# them: ``cell``, a partition directory, infers as int.
ANN_INDEX_SCHEMAS: dict[str, T.StructType] = {
    "centroids": T.StructType(
        [
            T.StructField("cid", T.LongType()),
            T.StructField("cvec", T.ArrayType(T.FloatType())),
        ]
    ),
    "assignments": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("cell", T.IntegerType()),
        ]
    ),
    "pq_codebook": T.StructType(
        [
            T.StructField("m", T.IntegerType()),
            T.StructField("cid", T.IntegerType()),
            T.StructField("c", T.ArrayType(T.LongType())),
        ]
    ),
    "pq_codes": T.StructType(
        [
            T.StructField("vid", T.LongType()),
            T.StructField("m", T.IntegerType()),
            T.StructField("cid", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
        ]
    ),
}


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int | None = None,
    pq: bool = False,
    m_sub: int = 8,
    ksub: int = 4,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """Train the ANN quantizers ONCE and persist them — the index
    lifecycle every in-query ``ivf_topk``/``pq_topk``/``ivf_pq_topk``
    call deliberately inlines for oracle checkability but that a
    production corpus trains offline and reuses per query (FAISS's
    train/add/search split; "production trains once", SCALE.md).

    Written under ``path``:

    - ``centroids/`` — the coarse quantizer (``cid``, ``cvec``),
      O(n_cells) rows;
    - ``assignments/`` — (id, vector, ``cell``), parquet PARTITIONED BY
      cell, so a query's broadcast probe join on the partition column
      prunes the scan to its probe cells (dynamic partition pruning —
      the disk-layout version of the FAISS inverted list);
    - with ``pq=True``: ``pq_codebook/`` (``m``, ``cid``, ``c``) and
      ``pq_codes/`` — (vid, m, cid) + ``cell``, also partitioned by
      cell, the 8-bytes-per-vector tier.

    Everything is deterministic (same conventions as the in-query
    forms), so prebuilt-index query results are BIT-IDENTICAL to the
    in-query-trained results — pytest asserts exactly that. Incremental
    ingest composes: :func:`assign_new_vectors` assigns a delta against
    the frozen centroids and the new rows append to ``assignments/``
    (their cell partitions), never touching trained state.

    ``n_cells=None`` (the default) self-sizes to ``max(16, int(sqrt(N)))``
    — the standard IVF rule (FAISS guidelines; SCALE.md): build cost is
    O(N * n_cells), so scaling cells linearly with the corpus makes the
    build quadratic (the measured x64 161 s wall), while sqrt sizing
    keeps it O(N^1.5) AND keeps per-cell row counts ~sqrt(N) so
    probe-side scans stay balanced. One count() job at build time buys
    the sizing; pass ``n_cells`` explicitly to skip it.

    The index is read back with :data:`ANN_INDEX_SCHEMAS`, the relations
    of the embeddings corpus (``vec_id`` bigint, ``embedding``
    array<float>).
    """
    spark = embeddings.sparkSession
    if n_cells is None:
        n_cells = max(16, int(embeddings.count() ** 0.5))
    cent = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    # Cluster by cell BEFORE the partitioned write: without it every
    # write task emits a file into every cell it touches — tasks x cells
    # files (measured 30,907 files at 128k vectors / 1024 cells, and a
    # 17 s listing+scheduling tax on every query, SCALE.md round-9
    # probe). One shuffle at build time buys one file per cell; large
    # cells stay scan-parallel through parquet row-group splits.
    assigned.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/assignments")
    if pq:
        _, codes, cents = _pq_train_encode(
            embeddings, m_sub, ksub, iters, dim, id_col, vec_col
        )
        cdf = spark.createDataFrame(
            [(m, cid, c) for (m, cid), c in sorted(cents.items())],
            "m int, cid int, c array<bigint>",
        )
        cdf.write.mode("overwrite").parquet(f"{path}/pq_codebook")
        stored = read_parquet(spark, f"{path}/assignments", ANN_INDEX_SCHEMAS["assignments"])
        codes.join(
            stored.select(F.col(id_col).alias("vid"), "cell"), "vid"
        ).repartition(F.col("cell")).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(f"{path}/pq_codes")
    return load_ann_index(spark, path)


def load_ann_index(spark, path: str) -> AnnIndex:
    """Open a persisted :func:`build_ann_index` directory, each relation
    read with its :data:`ANN_INDEX_SCHEMAS` entry. The PQ relations are
    optional (indexes built with ``pq=False`` have no codebook)."""
    import os

    def rel(name: str) -> DataFrame:
        return read_parquet(spark, f"{path}/{name}", ANN_INDEX_SCHEMAS[name])

    pq_codebook = pq_codes = None
    if os.path.isdir(f"{path}/pq_codebook"):
        pq_codebook, pq_codes = rel("pq_codebook"), rel("pq_codes")
    return AnnIndex(
        centroids=rel("centroids"),
        assignments=rel("assignments"),
        pq_codebook=pq_codebook,
        pq_codes=pq_codes,
    )


def assign_new_vectors(
    new_embeddings: DataFrame,
    index: AnnIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental-ingest assignment: place NEW vectors into the
    prebuilt index's cells against the FROZEN centroids — never
    retraining, so existing assignments (and any downstream
    materialization keyed on them) stay valid; the delta appends to the
    index's cell partitions. This is the ANN half of the incremental
    pattern whose join half is ``upsert.join_view_delta`` — compose the
    two to keep an ANN-backed join view fresh under ingest.

    One broadcast argmax over the O(n_cells) stored centroids — an
    embarrassingly parallel map over the delta, no shuffle, no scan of
    the base corpus. Returns (id, vector, cell), the ``assignments``
    schema.
    """
    return ivf_assign(
        new_embeddings,
        id_col=id_col,
        vec_col=vec_col,
        centroids=index.centroids,
    )


def compact_ann_index(spark, path: str) -> dict:
    """Rewrite a persisted index's cell partitions back to one file per
    cell. Incremental ingest (:func:`assign_new_vectors` + append)
    necessarily adds a file per (ingest batch x touched cell); after
    enough deltas a probe cell is many small files and the query-side
    scan pays listing/open overhead per file — the same small-files tax
    the round-9 build fix removed from the initial write (SCALE.md
    measured 30,907 files costing ~17 s per query before clustering).
    Periodic compaction is the standard companion to any append-based
    ingest (FAISS merges inverted lists; lakehouse tables OPTIMIZE).

    Mechanics: read → cluster on ``cell`` → write to a sibling
    directory → RENAME-ASIDE swap via the Hadoop FileSystem API: the
    live dir is renamed to ``<rel>__old`` (one metadata op), the
    compacted sibling renamed into place (one metadata op), then
    ``__old`` is deleted. A crash between the two renames leaves the
    full original intact under the deterministic ``__old`` name — no
    step ever deletes the only copy, unlike delete-then-rename. The
    single-writer assumption still holds for CONCURRENT readers (a
    reader can observe the one-metadata-op gap between renames; object
    stores without atomic rename should flip a pointer / catalog entry
    instead — the rewrite step is identical). Contents are
    row-identical; only the file layout changes, so queries against the
    reloaded index are bit-identical. Compacts ``assignments`` and,
    when present, ``pq_codes``, each read with its
    :data:`ANN_INDEX_SCHEMAS` entry. Returns per-relation
    ``{files_before, files_after, rows}``.
    """
    fs, HPath = _index_fs(spark, path)

    def _n_files(p: str) -> int:
        it, n = fs.listFiles(HPath(p), True), 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                n += 1
        return n

    stats: dict[str, dict] = {}
    for rel in ("assignments", "pq_codes"):
        rel_path = f"{path}/{rel}"
        old = f"{path}/{rel}__old"
        # self-recovery from THIS function's crash window: a crash
        # between the two renames leaves the live dir missing and the
        # full original under __old — restore it instead of silently
        # skipping a relation the index actually has
        if not fs.exists(HPath(rel_path)) and fs.exists(HPath(old)):
            if not fs.rename(HPath(old), HPath(rel_path)):
                raise IOError(f"crash recovery failed restoring {rel_path}")
        if not fs.exists(HPath(rel_path)):
            continue
        df = read_parquet(spark, rel_path, ANN_INDEX_SCHEMAS[rel])
        rows = df.count()
        before = _n_files(rel_path)
        tmp = f"{path}/{rel}__compacting"
        df.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(tmp)
        fs.delete(HPath(old), True)  # clear any prior crashed swap
        if not fs.rename(HPath(rel_path), HPath(old)):
            raise IOError(f"compaction swap failed renaming {rel_path} aside")
        if not fs.rename(HPath(tmp), HPath(rel_path)):
            fs.rename(HPath(old), HPath(rel_path))  # restore the original
            raise IOError(f"compaction swap failed for {rel_path}; restored")
        fs.delete(HPath(old), True)
        stats[rel] = {
            "files_before": before,
            "files_after": _n_files(rel_path),
            "rows": rows,
        }
    return stats


def _index_fs(spark, path: str):
    """The Hadoop FileSystem *of `path`* (not the default FS) plus the
    Path class — ``FileSystem.get(conf)`` resolves fs.defaultFS, which
    is wrong whenever the index lives elsewhere (a file:// index under
    an HDFS-default cluster, s3a://, ...): exists() would return false
    and maintenance ops would silently no-op."""
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, HPath


def ann_index_report(
    spark, path: str, files_per_cell_threshold: float = 4.0
) -> dict:
    """Fragmentation report for a persisted ANN index — the cheap
    observability companion to :func:`compact_ann_index` that tells an
    operator WHEN to run it. Incremental ingest adds a file per
    (append batch x touched cell); the measured tax is real (620 files
    → +37% prebuilt-query wall before compaction, SCALE.md round-9
    A/B) but nothing in the row-balance ``ivf_cell_report`` sees file
    counts. This walks the cell directories with O(cells) FileSystem
    listStatus calls (two levels, no recursive scan of file contents)
    and returns per relation::

        {n_cells, files, max_files_per_cell, mean_files_per_cell,
         needs_compaction}

    ``needs_compaction`` fires when the MEAN files/cell exceeds
    ``files_per_cell_threshold`` (default 4 — a freshly built or
    compacted index is exactly 1 file/cell, so 4x means at least ~3
    fragmenting append batches are stacked on the average probe path).
    Run it before queries in any append-ingest loop and compact when
    flagged — see examples/ann_index_lifecycle.py.
    """
    fs, HPath = _index_fs(spark, path)
    out: dict[str, dict] = {}
    for rel in ("assignments", "pq_codes"):
        rel_path = f"{path}/{rel}"
        if not fs.exists(HPath(rel_path)):
            continue
        per_cell = []
        for st in fs.listStatus(HPath(rel_path)):
            if not (
                st.isDirectory()
                and st.getPath().getName().startswith("cell=")
            ):
                continue
            n = sum(
                1
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
            per_cell.append(n)
        total = sum(per_cell)
        mean = total / len(per_cell) if per_cell else 0.0
        out[rel] = {
            "n_cells": len(per_cell),
            "files": total,
            "max_files_per_cell": max(per_cell) if per_cell else 0,
            "mean_files_per_cell": round(mean, 3),
            "needs_compaction": mean > files_per_cell_threshold,
        }
    return out


def silhouette_labels(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label — the
    cluster-quality readout for a labeled embedding corpus: a(x) =
    distance to OWN label's centroid, b(x) = distance to the nearest
    OTHER centroid, s(x) = (b-a)/max(a,b). Medoid-free "simplified
    silhouette" (Hruschka et al. 2004): O(points·k) instead of the
    O(points²) pairwise original — the only form that exists at corpus
    scale.

    Exactness: coordinates quantize to the e6 integer grid
    (:func:`label_centroids_e6`), and the squared distance to a MEAN
    avoids division entirely — ||x - s/n||² ∝ Σ_pos (n·x - s)², an
    exact DECIMAL(38,0) numerator with denominator n². Per-point a and
    b convert to double only for the final ratio (identical IEEE
    expression in any engine), floored to the ppm grid; per-label means
    are integer ``div`` over the ppm values, never a float mean (float
    means are partition-order dependent).

    Dataflow: posexplode → broadcast-join the O(k·dims) centroid
    relation → one map-side-combinable aggregate into (point, label)
    distance numerators (O(points·k) rows) → conditional min/max per
    point → O(k) rollup. No shuffle ever carries more than points·k
    rows.

    Returns one row per label: (label, n_points, mean_sil_ppm).
    """
    cent = label_centroids_e6(df, vec_col, label_col).select(
        F.col(label_col).alias("clabel"),
        "pos",
        F.col("sum_e6").cast("decimal(38,0)").alias("s"),
        F.col("n").cast("decimal(38,0)").alias("cn"),
    )
    ex = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("own"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).withColumn(
        "x_e6",
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)"),
    )
    num = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("id", "own", "clabel")
        .agg(
            F.sum(
                (F.col("cn") * F.col("x_e6") - F.col("s"))
                * (F.col("cn") * F.col("x_e6") - F.col("s"))
            ).alias("num"),
            F.first("cn").alias("cn"),
        )
    )
    d = num.select(
        "id",
        "own",
        "clabel",
        (
            F.col("num").cast("double")
            / (F.col("cn") * F.col("cn")).cast("double")
        ).alias("dist"),
    )
    per_point = d.groupBy("id", "own").agg(
        F.max(F.when(F.col("clabel") == F.col("own"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("clabel") != F.col("own"), F.col("dist"))).alias(
            "b"
        ),
    )
    sil = per_point.select(
        "own",
        F.when(F.greatest("a", "b") > 0, F.floor(
            (F.col("b") - F.col("a")) * 1e6 / F.greatest("a", "b")
        ).cast("long")).otherwise(F.lit(0).cast("long")).alias("sil_ppm"),
    )
    return sil.groupBy(F.col("own").alias(label_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.expr("sum(sil_ppm) div count(1)").alias("mean_sil_ppm"),
    )


def ndcg_at_k(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality NDCG@k per query anchor: rank the corpus by
    exact distance to the anchor (int64 squared L2 on the 1e-6 grid,
    ties to lower id — the house exact-ANN metric), score relevance 1
    where the neighbor shares the anchor's ``label_col``, and report
    normalized discounted cumulative gain — the standard eval number
    for an embedding space ("do nearest neighbors share the class?"),
    complementing recall@k which only checks the index, not the space.

    Gains land on an integer grid BEFORE summation: position ``r``
    contributes ``g(r) = floor(1e6 / log2(r+1) + 0.5)`` (one double
    log2 of a small integer, rounded to int — engine-portable), so
    DCG/IDCG are exact integer sums and ``ndcg_ppm`` is one truncating
    division. IDCG uses the ideal ordering of ``min(k, R)`` relevant
    items, ``R`` = the anchor's corpus-wide relevant count.

    Scale shape: the hard_negatives dataflow — broadcast O(n_queries)
    anchors, per-row codegen distances, rank-limited per-anchor
    windows — plus O(n_queries) aggregates. No full-corpus shuffle
    beyond the per-anchor rank.
    """
    from .clustering import _dist2, quantize_e6

    q = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_e6(vec_col).alias("qv"),
        F.col(label_col).alias("lbl"),
    )
    anchors = (
        q.orderBy("vid")
        .limit(n_queries)
        .select(
            F.col("vid").alias("query_id"),
            F.col("qv").alias("aq"),
            F.col("lbl").alias("albl"),
        )
    )
    scored = q.join(
        F.broadcast(anchors), F.col("vid") != F.col("query_id")
    ).select(
        "query_id",
        "vid",
        _dist2(F.col("qv"), F.col("aq")).alias("dist2"),
        F.when(F.col("lbl") == F.col("albl"), 1).otherwise(0).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "vid")
    gain = F.floor(
        F.lit(1e6) / F.log2(F.col("rnk").cast("double") + F.lit(1.0))
        + F.lit(0.5)
    ).cast("long")
    top = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rel", gain.alias("g"))
    )
    dcg = top.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.col("g")).cast("long").alias("dcg_e6")
    )
    rtot = scored.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_relevant")
    )
    # IDCG: relevant items packed into the first min(k, R) positions.
    # Guard n_relevant = 0: Spark's sequence(1, 0) is DESCENDING (it
    # would emit r=0, whose log2(1)=0 divides by zero), so gate the
    # whole fold behind the emptiness check.
    ideal = rtot.select(
        "query_id",
        "n_relevant",
        F.when(
            F.col("n_relevant") > 0,
            F.aggregate(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(k), F.col("n_relevant").cast("int")),
                ),
                F.lit(0).cast("long"),
                lambda acc, r: acc
                + F.floor(
                    F.lit(1e6) / F.log2(r.cast("double") + F.lit(1.0))
                    + F.lit(0.5)
                ).cast("long"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("idcg_e6"),
    )
    return (
        ideal.join(dcg, "query_id", "left")
        .select(
            "query_id",
            "n_relevant",
            F.coalesce(F.col("dcg_e6"), F.lit(0)).alias("dcg_e6"),
            F.col("idcg_e6"),
            F.expr(
                "CASE WHEN idcg_e6 > 0 THEN"
                " coalesce(dcg_e6, 0) * 1000000 div idcg_e6"
                " ELSE 0 END"
            ).alias("ndcg_ppm"),
        )
        .orderBy("query_id")
    )


def map_mrr_at_k(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality MAP@k and MRR@k per query anchor — the two IR
    eval numbers :func:`ndcg_at_k` doesn't give: average precision
    (position-weighted precision over every relevant hit — the recall-
    oriented ranking score) and reciprocal rank of the FIRST relevant
    hit (the "how fast does the user see something right" score).

    Same exact dataflow as ndcg_at_k (broadcast O(n_queries) anchors,
    int64 squared-L2 on the 1e-6 grid, ties to lower id, rank-limited
    per-anchor windows). Both metrics stay on exact integer grids:
    precision@r = cum_rel(r)/r lands per-term as
    ``(cum_rel·1e6) div r`` BEFORE the sum, AP divides by min(k, R)
    with one truncating div, and RR is the pure-integer
    ``1e6 div first_rel_rank`` (0 when no relevant in the top k).

    Returns (query_id, n_relevant, ap_ppm, rr_ppm) ordered by query.
    """
    from .clustering import _dist2, quantize_e6

    q = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_e6(vec_col).alias("qv"),
        F.col(label_col).alias("lbl"),
    )
    anchors = (
        q.orderBy("vid")
        .limit(n_queries)
        .select(
            F.col("vid").alias("query_id"),
            F.col("qv").alias("aq"),
            F.col("lbl").alias("albl"),
        )
    )
    scored = q.join(
        F.broadcast(anchors), F.col("vid") != F.col("query_id")
    ).select(
        "query_id",
        "vid",
        _dist2(F.col("qv"), F.col("aq")).alias("dist2"),
        F.when(F.col("lbl") == F.col("albl"), 1).otherwise(0).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "vid")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = scored.select(
        "query_id",
        "rel",
        F.row_number().over(w).alias("r"),
        F.sum("rel").over(wcum).cast("long").alias("cum_rel"),
    )
    rtot = scored.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_relevant")
    )
    top = ranked.filter(F.col("r") <= k)
    per_q = top.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.expr("(cum_rel * 1000000) div r"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ap_num_ppm"),
        F.min(F.when(F.col("rel") == 1, F.col("r")))
        .cast("long")
        .alias("first_rel"),
    )
    return (
        rtot.join(per_q, "query_id", "left")
        .select(
            "query_id",
            "n_relevant",
            F.expr(
                "CASE WHEN least(n_relevant, {k}) > 0 THEN"
                " coalesce(ap_num_ppm, 0) div least(n_relevant, {k})"
                " ELSE 0 END".format(k=int(k))
            )
            .cast("long")
            .alias("ap_ppm"),
            F.expr(
                "CASE WHEN first_rel IS NULL THEN 0"
                " ELSE 1000000 div first_rel END"
            )
            .cast("long")
            .alias("rr_ppm"),
        )
        .orderBy("query_id")
    )


def truncated_recall(
    embeddings: DataFrame,
    trunc_dims: int,
    n_queries: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation eval: recall@k of nearest-neighbor
    search run on only the FIRST ``trunc_dims`` coordinates, judged
    against the full-dimension exact top-k — the number that tells you
    how many dims the serving index can drop (MRL, Kusupati et al.
    2022) before retrieval quality pays.

    Same broadcast-anchor dataflow as the house recall report: exact
    int64 squared-L2 on the 1e-6 grid for BOTH rankings (full and
    ``slice``-truncated), ties to lower id, two rank-limited windows,
    one join to intersect the top-k sets. Pure-integer recall ppm.

    Returns (query_id, k, n_hit, recall_ppm) ordered by query.
    """
    from .clustering import quantize_e6

    q = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_e6(vec_col).alias("qv"),
    ).withColumn("tv", F.slice(F.col("qv"), 1, int(trunc_dims)))
    anchors = (
        q.orderBy("vid")
        .limit(n_queries)
        .select(
            F.col("vid").alias("query_id"),
            F.col("qv").alias("aq"),
            F.col("tv").alias("at"),
        )
    )
    scored = q.join(
        F.broadcast(anchors), F.col("vid") != F.col("query_id")
    ).select(
        "query_id",
        "vid",
        F.aggregate(
            F.zip_with(
                F.col("qv"), F.col("aq"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dfull"),
        F.aggregate(
            F.zip_with(
                F.col("tv"), F.col("at"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dtrunc"),
    )
    wf = Window.partitionBy("query_id").orderBy("dfull", "vid")
    wt = Window.partitionBy("query_id").orderBy("dtrunc", "vid")
    full_top = scored.withColumn("rf", F.row_number().over(wf)).filter(
        F.col("rf") <= k
    )
    trunc_top = scored.withColumn("rt", F.row_number().over(wt)).filter(
        F.col("rt") <= k
    )
    hits = full_top.select("query_id", "vid").join(
        trunc_top.select("query_id", "vid"), ["query_id", "vid"]
    )
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return (
        full_top.select("query_id")
        .distinct()
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.lit(int(k)).cast("int").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.expr(
                f"CAST(coalesce(n_hit, 0) * 1000000 div {int(k)}"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("query_id")
    )
