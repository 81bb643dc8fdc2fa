

def test_label_centroids_exact_grid(spark):
    from iowa_liquor_sales_spark.operators.similarity import label_centroids_e6

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.5]),
            (1, [3.0, 0.5]),
            (2, [0.000001, 0.0]),
        ],
        ["label", "embedding"],
    )
    got = {
        (r["label"], r["pos"]): (r["sum_e6"], r["n"])
        for r in label_centroids_e6(df, "embedding", "label").collect()
    }
    # floor(x*1e6 + 0.5): 1.0 -> 1_000_000, -2.5 -> -2_500_000, ...
    assert got[(1, 0)] == (4_000_000, 2)
    assert got[(1, 1)] == (-2_000_000, 2)  # -2.5e6 + 0.5e6
    assert got[(2, 0)] == (1, 1)
    assert got[(2, 1)] == (0, 1)
    # centroid mean = sum_e6 / (n * 1e6)
    assert got[(1, 0)][0] / (got[(1, 0)][1] * 1e6) == 2.0


def test_near_dup_blocked_multiblock_matches_theta_join(spark):
    """Block-pair matmul path (forced to >1 block) must equal the exact
    Catalyst theta-join path — and must not hold the corpus on the driver."""
    from iowa_liquor_sales_spark.operators.similarity import (
        _near_dup_pairs_blocked,
        embedding_near_dup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.98, 0.2]),
        (4, [0.5, 0.5, 0.7]),
        (5, [1.0, 0.02, 0.0]),
        (6, [-1.0, 0.0, 0.0]),
        (7, [0.7, 0.7, 0.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, min_cosine=0.9, use_arrow=False
        ).collect()
    }
    # rows_per_block=3 -> ceil(8/3)=3 blocks -> 6 block-pair tasks
    blocked = {
        (r["id_a"], r["id_b"])
        for r in _near_dup_pairs_blocked(
            df, 0.9, "vec_id", "embedding", rows_per_block=3
        ).collect()
    }
    assert blocked == exact
    assert len(exact) > 0


def test_jaccard_max_df_caps_hot_shingles(spark):
    """A shingle present in every doc must not generate n^2 candidates:
    with the cap it is dropped from index AND sizes, so docs sharing only
    the hot shingle produce no pair at all."""
    from iowa_liquor_sales_spark.operators.dedup import jaccard_pairs

    # 6 docs all share shingle "hot"; docs 0/1 also share "a b c" x3.
    sh = []
    for d in range(6):
        sh.append((d, "hot"))
    for d in (0, 1):
        sh += [(d, "a"), (d, "b"), (d, "c")]
    df = spark.createDataFrame(sh, ["doc_id", "shingle"])

    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, min_jaccard=0.1, max_df=None).collect()
    }
    # every pair shares "hot" -> 15 candidate pairs survive min_jaccard=0.1? 
    # docs 2..5 pairs: jaccard = 1/1 = 1.0 (only shingle each) -> present.
    assert (2, 3) in uncapped and uncapped[(2, 3)] == 1.0
    assert (0, 1) in uncapped

    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, min_jaccard=0.1, max_df=2).collect()
    }
    # "hot" (df=6 > 2) is gone: only (0,1) remains, with jaccard over
    # the capped sets {a,b,c}: 3/3 = 1.0
    assert set(capped) == {(0, 1)}
    assert capped[(0, 1)] == 1.0

    # fractional cap: 0.2 of 6 docs -> cap=1 -> "a","b","c" (df=2) also hot
    frac = jaccard_pairs(df, min_jaccard=0.1, max_df=0.2).collect()
    assert frac == []


def test_ann_sq8_prefers_aligned_vector(spark):
    from iowa_liquor_sales_spark.operators.similarity import ann_sq8_topk

    # 4-dim corpus: vec 1 is (almost) the query direction, vec 3 opposite.
    rows = [
        (0, [1.0, 0.0, 0.5, 0.2]),
        (1, [0.9, 0.1, 0.5, 0.2]),
        (2, [0.0, 1.0, 0.0, 0.9]),
        (3, [-1.0, 0.0, -0.5, -0.2]),
        (4, [0.5, 0.5, 0.25, 0.4]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ann_sq8_topk(emb, query_id=0, k=3, dim=4).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rnk"])][0] == 1
    assert all(r["vec_id"] != 0 for r in out)  # query excluded
    assert len(out) == 3
    # integer scores, monotone with rank
    by_rnk = sorted(out, key=lambda r: r["rnk"])
    assert all(isinstance(r["qdot"], int) for r in out)
    assert by_rnk[0]["qdot"] >= by_rnk[-1]["qdot"]


def test_embedding_covariance_exact_small_case(spark):
    from iowa_liquor_sales_spark.operators.similarity import (
        embedding_covariance,
    )

    # Three 2-d vectors with hand-computable covariance:
    # x = (0.1, 0.2, 0.3), y = (0.4, 0.0, 0.2); scaled by 1e6.
    df = spark.createDataFrame(
        [(0, [0.1, 0.4]), (1, [0.2, 0.0]), (2, [0.3, 0.2])],
        ["vec_id", "embedding"],
    )
    out = {(r["i"], r["j"]): r for r in embedding_covariance(df).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 1)}
    s = 1_000_000
    xs, ys = [0.1 * s, 0.2 * s, 0.3 * s], [0.4 * s, 0.0, 0.2 * s]
    n = 3
    import math

    exy = sum(x * y for x, y in zip(xs, ys)) / n
    cov_milli = math.floor((exy - (sum(xs) / n) * (sum(ys) / n)) * 1000.0)
    assert out[(0, 1)]["n_vecs"] == 3
    assert out[(0, 1)]["cov_milli"] == cov_milli
    # variance on the diagonal is positive
    assert out[(0, 0)]["cov_milli"] > 0


def test_power_iteration_pc1_recovers_planted_component(spark):
    import math

    from pyspark.sql import functions as F

    from iowa_liquor_sales_spark.operators.similarity import (
        embedding_covariance,
        power_iteration_pc1,
    )

    # Plant a dominant direction (ones over the first 8 dims scaled by
    # label): 3 power-iteration rounds must align with it.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spiked = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + F.when(i < 8, F.lit(0.5) * F.col("label")).otherwise(
                F.lit(0.0)
            ),
        ).alias("embedding"),
    )
    out = power_iteration_pc1(
        embedding_covariance(spiked), dim=64, iters=3
    ).collect()
    v = [r["v_scaled"] / 1e6 for r in sorted(out, key=lambda r: r["i"])]
    # unit vector
    assert abs(sum(x * x for x in v) - 1.0) < 1e-3
    # planted direction = uniform mass on dims 0..7: cosine > 0.99
    planted = [1.0 / math.sqrt(8)] * 8 + [0.0] * 56
    cos = sum(a * b for a, b in zip(v, planted))
    assert abs(cos) > 0.99, cos
    # sign contract: the largest-|component| entry is positive
    assert max(v, key=abs) > 0


def test_ann_range_search_probe_semantics_and_monotone_nprobe(spark):
    """Range search returns exactly the brute-force threshold matches
    RESTRICTED to the probe cells; widening nprobe widens the result
    monotonically and reaches the full brute-force set at n_cells."""
    from iowa_liquor_sales_spark.operators.similarity import (
        ann_range_search,
        ivf_assign,
        query_probe_cells,
    )
    from iowa_liquor_sales_spark.functions.vectors import cosine_similarity
    from pyspark.sql import functions as F

    import math
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    thr = 0.3

    brute = {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .join(
            emb.filter(F.col("vec_id") == 0).select(
                F.col("embedding").alias("q_vec")
            )
        )
        .filter(cosine_similarity(F.col("embedding"), F.col("q_vec")) >= thr)
        .collect()
    }

    prev: set[int] = set()
    for nprobe in (1, 2, 4, 8):
        got = {
            r["vec_id"]
            for r in ann_range_search(
                emb, query_id=0, min_cos=thr, n_cells=8, nprobe=nprobe
            ).collect()
        }
        assert got <= brute           # never a false positive
        assert prev <= got            # monotone widening
        # exactness within the probed cells
        cells = {
            r["p_cell"]
            for r in query_probe_cells(emb, 0, nprobe, n_cells=8).collect()
        }
        in_cells = {
            r["vec_id"]
            for r in ivf_assign(emb, n_cells=8)
            .filter(F.col("cell").isin(cells))
            .collect()
        }
        assert got == brute & in_cells
        prev = got
    assert prev == brute              # nprobe = n_cells -> exact


def test_prebuilt_index_bit_identical(spark, tmp_path):
    """build_ann_index -> load -> query must reproduce the in-query-
    trained ivf/pq/ivf_pq results exactly: the index is a
    materialization of the same deterministic quantizers, not a
    different algorithm."""
    from iowa_liquor_sales_spark.operators.similarity import (
        build_ann_index,
        ivf_pq_topk,
        ivf_topk,
        load_ann_index,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = build_ann_index(emb, str(tmp_path / "ann"), n_cells=16, pq=True)
    # load from a fresh reader (not the build's return) to prove the
    # round-trip through parquet, not just the in-session relations
    idx = load_ann_index(spark, str(tmp_path / "ann"))
    # the declared index schemas are what inferring the files would give
    assert {
        rel: spark.read.parquet(str(tmp_path / "ann" / rel)).schema for rel in idx._fields
    } == {rel: getattr(idx, rel).schema for rel in idx._fields}

    for qid, nprobe in ((0, 1), (7, 2)):
        live = ivf_topk(emb, query_id=qid, k=10, nprobe=nprobe).collect()
        pre = ivf_topk(
            emb, query_id=qid, k=10, nprobe=nprobe, index=idx
        ).collect()
        assert sorted(map(tuple, live)) == sorted(map(tuple, pre))

    live = pq_topk(emb, query_id=0, k=10).collect()
    pre = pq_topk(emb, query_id=0, k=10, index=idx).collect()
    assert sorted(map(tuple, live)) == sorted(map(tuple, pre))

    live = ivf_pq_topk(emb, query_id=0, k=10, nprobe=2).collect()
    pre = ivf_pq_topk(emb, query_id=0, k=10, nprobe=2, index=idx).collect()
    assert sorted(map(tuple, live)) == sorted(map(tuple, pre))


def test_assign_new_vectors_matches_full_rebuild(spark, tmp_path):
    """Frozen-centroid delta assignment + base assignments == one-shot
    assignment of the full corpus (centroid ids all live in the base
    slice, so the quantizer is identical)."""
    from pyspark.sql import functions as F

    from iowa_liquor_sales_spark.operators.similarity import (
        assign_new_vectors,
        build_ann_index,
        ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # every centroid id (< 16) must live in the base slice, or the
    # frozen quantizer differs from the full-corpus one by construction
    is_delta = (F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 16)
    base = emb.filter(~is_delta)
    delta = emb.filter(is_delta)
    assert delta.count() > 0
    idx = build_ann_index(base, str(tmp_path / "ann2"), n_cells=16)

    combined = {
        (r["vec_id"], r["cell"])
        for r in idx.assignments.select("vec_id", "cell")
        .unionByName(
            assign_new_vectors(delta, idx).select("vec_id", "cell")
        )
        .collect()
    }
    full = {
        (r["vec_id"], r["cell"])
        for r in ivf_assign(emb, n_cells=16).select("vec_id", "cell").collect()
    }
    assert combined == full


def test_compact_ann_index_one_file_per_cell_bit_identical(spark, tmp_path):
    """Delta-append ingest leaves a file per (batch x touched cell);
    compact_ann_index must rewrite to exactly one file per cell with
    row-identical contents — queries against the reloaded index are
    bit-identical, only the layout changes."""
    import os

    from pyspark.sql import functions as F

    from iowa_liquor_sales_spark.operators.similarity import (
        assign_new_vectors,
        build_ann_index,
        compact_ann_index,
        ivf_topk,
        load_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    is_delta = (F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 16)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)
    path = str(tmp_path / "ann3")
    build_ann_index(base, path, n_cells=16)
    # two ingest batches -> extra files in the touched cell partitions
    idx = load_ann_index(spark, path)
    for batch in (delta.filter("vec_id % 2 = 0"), delta.filter("vec_id % 2 = 1")):
        assign_new_vectors(batch, idx).write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{path}/assignments")

    def n_files():
        return sum(
            1
            for root, _, files in os.walk(f"{path}/assignments")
            for f in files
            if f.endswith(".parquet")
        )

    idx = load_ann_index(spark, path)
    before_rows = idx.assignments.count()
    before_hits = sorted(
        map(tuple, ivf_topk(emb, query_id=7, k=10, nprobe=2, index=idx).collect())
    )
    n_cells_used = idx.assignments.select("cell").distinct().count()
    assert n_files() > n_cells_used  # the appends really fragmented it

    stats = compact_ann_index(spark, path)
    assert stats["assignments"]["rows"] == before_rows
    assert stats["assignments"]["files_after"] == n_cells_used
    assert stats["assignments"]["files_after"] < stats["assignments"]["files_before"]
    assert n_files() == n_cells_used

    idx2 = load_ann_index(spark, path)
    assert idx2.assignments.count() == before_rows
    after_hits = sorted(
        map(tuple, ivf_topk(emb, query_id=7, k=10, nprobe=2, index=idx2).collect())
    )
    assert before_hits == after_hits


def test_map_mrr_matches_bruteforce(spark):
    from iowa_liquor_sales_spark.operators.similarity import map_mrr_at_k

    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], i % 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        r["query_id"]: (r["n_relevant"], r["ap_ppm"], r["rr_ppm"])
        for r in map_mrr_at_k(df, n_queries=4, k=5).collect()
    }
    # python reference on the SAME 1e-6 quantized grid
    import math

    def quant(v):
        return [math.floor(x * 1e6 + 0.5) for x in v]

    qrows = [(i, quant(v), lbl) for i, v, lbl in rows]
    for qid, qv, qlbl in qrows[:4]:
        cands = []
        for vid, v, lbl in qrows:
            if vid == qid:
                continue
            d2 = sum((a - b) ** 2 for a, b in zip(v, qv))
            cands.append((d2, vid, 1 if lbl == qlbl else 0))
        cands.sort()
        n_rel = sum(c[2] for c in cands)
        ap_num, cum, first = 0, 0, None
        for r, (_, _, rel) in enumerate(cands[:5], start=1):
            cum += rel
            if rel:
                ap_num += (cum * 1_000_000) // r
                if first is None:
                    first = r
        ap = ap_num // min(n_rel, 5) if min(n_rel, 5) > 0 else 0
        rr = 1_000_000 // first if first else 0
        assert got[qid] == (n_rel, ap, rr)


def test_truncated_recall_full_dims_is_perfect(spark):
    from iowa_liquor_sales_spark.operators.similarity import (
        truncated_recall,
    )

    import random

    rng = random.Random(41)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # truncating to ALL 64 dims must reproduce the exact top-k: 1.0
    full = truncated_recall(df, trunc_dims=64, n_queries=4, k=8).collect()
    assert all(r["recall_ppm"] == 1_000_000 for r in full)
    # truncating to 4 dims degrades but stays a valid fraction
    t4 = truncated_recall(df, trunc_dims=4, n_queries=4, k=8).collect()
    assert all(0 <= r["recall_ppm"] <= 1_000_000 for r in t4)
    assert any(r["recall_ppm"] < 1_000_000 for r in t4)


def test_build_ann_index_self_sizes_cells_and_report_clean(spark, tmp_path):
    """n_cells=None self-sizes to max(16, int(sqrt(N))) (the IVF rule
    that keeps build O(N^1.5) instead of quadratic), and a fresh build
    is exactly one file per cell — ann_index_report must read 1.0
    files/cell and not flag compaction."""
    from iowa_liquor_sales_spark.operators.similarity import (
        ann_index_report,
        build_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    path = str(tmp_path / "ann_sized")
    idx = build_ann_index(emb, path)
    assert idx.centroids.count() == max(16, int(n**0.5))

    rep = ann_index_report(spark, path)
    assert rep["assignments"]["mean_files_per_cell"] == 1.0
    assert rep["assignments"]["max_files_per_cell"] == 1
    assert not rep["assignments"]["needs_compaction"]
    assert (
        rep["assignments"]["n_cells"]
        == idx.assignments.select("cell").distinct().count()
    )


def test_ann_index_report_flags_fragmentation_then_clears(spark, tmp_path):
    """Append-ingest fragments cell partitions; the report's
    needs_compaction flag must fire at the caller's threshold and clear
    after compact_ann_index. Also exercises the crashed-swap recovery
    path: a leftover __old dir from a hypothetical prior crash must not
    break the next compaction."""
    import os

    from pyspark.sql import functions as F

    from iowa_liquor_sales_spark.operators.similarity import (
        ann_index_report,
        assign_new_vectors,
        build_ann_index,
        compact_ann_index,
        load_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    is_delta = (F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 16)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)
    path = str(tmp_path / "ann_frag")
    build_ann_index(base, path, n_cells=16)
    idx = load_ann_index(spark, path)
    for batch in (delta.filter("vec_id % 2 = 0"), delta.filter("vec_id % 2 = 1")):
        assign_new_vectors(batch, idx).write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{path}/assignments")

    rep = ann_index_report(spark, path, files_per_cell_threshold=1.5)
    assert rep["assignments"]["mean_files_per_cell"] > 1.5
    assert rep["assignments"]["needs_compaction"]

    # simulated crashed prior swap: a stale __old sibling must be
    # cleared by the next compaction, not trip the rename-aside
    os.makedirs(f"{path}/assignments__old/cell=0", exist_ok=True)
    with open(f"{path}/assignments__old/cell=0/junk.parquet", "w") as fh:
        fh.write("stale")

    compact_ann_index(spark, path)
    assert not os.path.exists(f"{path}/assignments__old")
    rep2 = ann_index_report(spark, path, files_per_cell_threshold=1.5)
    assert rep2["assignments"]["mean_files_per_cell"] == 1.0
    assert not rep2["assignments"]["needs_compaction"]
    assert rep2["assignments"]["files"] == rep2["assignments"]["n_cells"]


def test_compact_ann_index_recovers_crashed_swap(spark, tmp_path):
    """Crash window: the live dir was renamed aside but the compacted
    sibling never landed — the next compact_ann_index run must restore
    the __old copy and proceed, not silently skip the relation."""
    import os

    from iowa_liquor_sales_spark.operators.similarity import (
        build_ann_index,
        compact_ann_index,
        load_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    path = str(tmp_path / "ann_crash")
    build_ann_index(emb, path, n_cells=16)
    os.rename(f"{path}/assignments", f"{path}/assignments__old")
    assert not os.path.exists(f"{path}/assignments")

    stats = compact_ann_index(spark, path)
    assert stats["assignments"]["rows"] == n
    assert not os.path.exists(f"{path}/assignments__old")
    assert load_ann_index(spark, path).assignments.count() == n
