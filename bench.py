#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the full JSON line first ({"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec, ...}, "sf": ...}) and then a
COMPACT summary line (total, n_queries, top-10 walls) — the full line
outgrew tail-window log capture at ~150 queries (round 8's record was
lost to a 2000-char tail), so the LAST line printed is always short
enough to parse from a truncated log. The full per-query dict is also
written to BENCH_DETAIL.json next to this file (tracked in git), so
every round's complete numbers survive regardless of log capture.

Every query is forced end-to-end with the noop sink (full compute, no
collect-to-driver skew in the timing). The mix mirrors the reference's
measurable stages (BASELINE.md): silver-transform throughput (its 645k
rows/s pandas loop), CSV serialization (its COPY wire format), and the
analytical/star/dedup/similarity surface the engine adds.

COHORTS (one JVM each, run as subprocesses): a single 156-query JVM
session drifted the 67-query round-7 common set +18% uniformly (JIT /
code-cache / GC pressure from the ~90 queries that now precede them —
round-8 verdict item 3), which destroyed round-over-round comparability.
Each cohort is a FIXED list with a frozen boundary: new queries append
to the LAST cohort (or start a new one), so an existing cohort's JVM
environment — queries before it, code-cache population, heap history —
is byte-identical round over round and its walls stay comparable
forever. Cohort JVM startup/warm-up/ingest happen outside the timed
regions and are NOT part of the headline total, same as before.

LOAD AWARENESS: each cohort's 1-min loadavg (before/after) is stamped
into BENCH_DETAIL.json and the compact trailer, and a cohort whose wall
exceeds the previously COMMITTED quiet-box wall by >1.5x is listed in
``suspect_load_cohorts`` — so a record taken on a loaded box (round 9's
stats2 cohort: 253.7 s vs 135.5 s quiet, 6-9x per-query tails) is
self-identifying instead of masquerading as a regression.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from iowa_liquor_sales_spark import get_spark  # noqa: E402
from iowa_liquor_sales_spark.caching import query_scope  # noqa: E402
from iowa_liquor_sales_spark.functions.cleansing import to_silver  # noqa: E402
from iowa_liquor_sales_spark.schemas import read_table  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# Cohort boundaries are FROZEN (see module docstring): never insert into
# or reorder an existing cohort; append new queries to the newest cohort
# only, and start a new cohort when the newest exceeds ~50 entries.
COHORTS: dict[str, list[str]] = {
    # rounds 1-3 flagships — the oldest, most-compared set. This cohort
    # also times q_warehouse_ingest (the one-off re-layout).
    "core": [
        "q_scan_parquet",
        "q_groupby_agg",
        "q_star_join",
        "q_shipping_priority",
        "q_conditional_agg",
        "q_cube",
        "q_topk_pergroup",
        "q_window_running",
        "q_dedup_rank",
        "q_dedup_exact",
        "q_ngram_jaccard",
        "q_minhash_lsh",
        "q_simhash",
        "q_embed_neardup",
        "q_ann_bruteforce",
        "q_text_quality",
        "q_token_count",
        "q_fingerprint",
        "q_events_window",
        "q_sessionize",
        "q_multimodal_features",
        "q_regional_revenue",
        "q_decontaminate",
        "q_bloom_prefilter",
        "q_pagerank",
        "q_grid_quantiles",
        "q_heavy_hitters",
        "q_split_assign",
        "q_weighted_sample",
        "q_pack_sequences",
        "q_hll",
        "q_zorder",
        "q_global_rank",
        "q_ann_sq8",
        "q_cdc_apply",
        "q_session_native",
        "q_word_entropy",
        "q_bitmap_distinct",
        "q_join_cardinality",
        "q_hll_overlap",
        "q_weighted_median",
        "q_simhash_pairs",
        "q_theta_diff",
        "q_interval_merge",
        "q_naive_bayes",
        "q_order_priority",
        "q_sparse_cosine",
        "q_lm_score",
        "q_mst_boruvka",
        "q_interval_join",
        "q_substring_dedup",
        "q_adamic_adar",
        "q_interp_linear",
        "q_hll_sliding",
        "q_quantile_normalize",
        "q_embed_covariance",
    ],
    # rounds 4-8(second batch): the fuzzy/ER/ANN-lifecycle/image flows
    # plus the first statistics batch. Also computes the ANN/PQ stage
    # splits (they decompose q_ann_pq / q_ann_prebuilt, which run here).
    "simjoin": [
        "q_dsir_weights",
        "q_geo_radius_join",
        "q_fuzzy_names",
        "q_ann_pq",
        "q_entity_resolution",
        "q_ann_multiprobe",
        "q_image_dhash",
        "q_ann_range",
        "q_leakage_split",
        "q_token_budget",
        "q_canonical_dedup",
        "q_join_delta",
        "q_bh_fdr",
        "q_ann_prebuilt",
        "q_ann_assign_delta",
        "q_zipf_slope",
        "q_ngram_novelty",
        "q_spearman_global",
        "q_mann_whitney",
        "q_ks_drift",
        "q_chi2_source_lang",
        "q_gini_chars",
        "q_dup_rate_curve",
        "q_interleave_order",
    ],
    # round-8 third-fifth batches: the 32-query statistics/agreement/
    # graph-health wave (q_kruskal_wallis .. q_lsh_plan).
    "stats1": [
        "q_kruskal_wallis",
        "q_anova_f",
        "q_levene",
        "q_silhouette",
        "q_readability",
        "q_rake_keywords",
        "q_jsd_drift",
        "q_friedman",
        "q_ndcg",
        "q_dbscan_grid",
        "q_t_closeness",
        "q_harmonic_centrality",
        "q_assortativity",
        "q_modularity",
        "q_cohens_kappa",
        "q_mcc",
        "q_theil_u",
        "q_drawdown",
        "q_decayed_topk",
        "q_cronbach",
        "q_dedup_cascade",
        "q_sax_words",
        "q_lift_table",
        "q_ece",
        "q_oov_rate",
        "q_moments",
        "q_mantel_haenszel",
        "q_ljung_box",
        "q_lorenz",
        "q_logrank",
        "q_by_fdr",
        "q_lsh_plan",
    ],
    # round-8 sixth batch: the 41-query late statistics/encoding/graph
    # wave (q_kendall_tau .. q_relative_risk). Round-9+ additions append
    # HERE until this cohort reaches ~50, then a new cohort starts.
    "stats2": [
        "q_kendall_tau",
        "q_wasserstein",
        "q_effect_sizes",
        "q_cochran_armitage",
        "q_mcnemar",
        "q_durbin_watson",
        "q_target_encode",
        "q_randomization_test",
        "q_dp_mean",
        "q_neighbor_jaccard",
        "q_map_mrr",
        "q_holm",
        "q_audio_zcr",
        "q_hurst",
        "q_isotonic",
        "q_quadratic_fit",
        "q_auc_delong",
        "q_stratified_kfold",
        "q_rolling_quantile",
        "q_script_profile",
        "q_diff_in_diff",
        "q_ngram_coverage",
        "q_hill_tail",
        "q_ams_f2",
        "q_ktruss",
        "q_preference_pairs",
        "q_truncated_recall",
        "q_sprt",
        "q_forecast_backtest",
        "q_best_f1",
        "q_betweenness",
        "q_negative_sampling",
        "q_log_odds",
        "q_rolling_anomaly",
        "q_conformal",
        "q_ucb_ranking",
        "q_knee_point",
        "q_mde_power",
        "q_two_prop_z",
        "q_gini_split",
        "q_relative_risk",
        # round-9 additions (appended — frozen-boundary rule above)
        "q_ppm_zlib_decode",
        "q_compression_ratio",
        # round-10 additions (appended — frozen-boundary rule above)
        "q_paragraph_neardup",
        "q_match_length_histogram",
        "q_contamination_matrix",
    ],
    # the reference-baseline stage analogs (BASELINE.md's transform and
    # load stages) — their own tiny JVM so the baseline-facing numbers
    # never inherit pressure from the analytical surface.
    "baseline": [],
}


# Fixed warm-up suite, untimed, identical for every cohort and every
# round: one pass over five queries covering the common codegen paths
# (parquet scan, hash aggregate, broadcast star join, string exprs,
# window, noop sink). Deliberately SMALL: an A/B at sf0.1 showed a full
# untimed pre-pass over the whole cohort makes the timed portion 13-15%
# SLOWER (the pre-loaded codegen classes and heap history are exactly
# the code-cache/GC pressure the cohort split removes), while
# back-to-back runs of this small-warm-up protocol hold the 158-entry
# median within ~4% — that run-to-run stability, not absolute warmth,
# is what round-over-round comparison needs.
WARMUP = (
    "q_scan_parquet",
    "q_groupby_agg",
    "q_star_join",
    "q_token_count",
    "q_events_window",
)


def force(df) -> None:
    """Compute ``df`` end to end into the noop sink (nothing collected)."""
    df.write.format("noop").mode("overwrite").save()


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's own
    ``CodegenMetrics`` counter; a codegen-cache hit does not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def best_of(spark, label: str, fn, reps: int = 2) -> float:
    """Minimum wall (s) over ``reps`` calls of ``fn()``. Each call runs in
    its own ``query_scope``: its jobs carry ``label`` and the session's
    cache is released after the call (outside the timed region), so an
    ``fn`` that builds and forces its own work starts every rep, and
    leaves whatever runs next, with an empty cache."""
    best = float("inf")
    for _ in range(reps):
        with query_scope(spark, label):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
    return best


def prepare(spark, queries: dict, sf_dir: str, cpus: str, timed: bool):
    """Warm the session, stage the warehouse, then run the WARMUP suite
    against it, each warm-up query in its own scope. Returns
    ``_ingest_warehouse``'s (warehouse dir, ingest wall)."""
    # Warm the JVM/session on the smallest scale so first-query JIT/
    # codegen cost doesn't land on an arbitrary headline query.
    with query_scope(spark, "entry"):
        force(entry_mod.entry(spark))
    wh, ingest_sec = _ingest_warehouse(spark, sf_dir, int(cpus), timed)
    for name in WARMUP:
        with query_scope(spark, name):
            force(queries[name](spark, wh))
    return wh, ingest_sec


def stage_stringly(spark, sf: str, path: str, n_parts: int = 32) -> None:
    """One-time staging of an all-string copy of lineitem — the wire-format
    input the reference's transform stage starts from (its raw parquet
    chunks hold CSV-parsed strings). Staged as ``n_parts`` files: the
    testdata ships one single-row-group parquet per table, which caps any
    scan of it at one task — the reference's own raw stage is 285 chunk
    files, so a multi-file staging ground is the faithful layout."""
    li = read_table(spark, sf, "lineitem").repartition(n_parts)
    li.select(
        F.col("l_orderkey").cast("string").alias("l_orderkey"),
        F.col("l_shipdate").cast("string").alias("date"),
        *[
            F.col(c).cast("string").alias(c)
            for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ],
    ).write.mode("overwrite").parquet(path)


def q_silver_transform(spark, staged_path: str):
    """Reference transform-stage analog (BASELINE: ~645k rows/s in a serial
    pandas loop): read staged strings, coerce timestamp + 4 numerics,
    null-fill — the same work as src/transform.py:11-23."""
    return to_silver(
        spark.read.parquet(staged_path),
        ts_cols=("date",),
        int_cols=(),
        num_cols=("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    )


def _cpus() -> str:
    """Local core count: $SPARK_GRAFT_CPUS, else this process's CPU set."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _make_spark(cpus: str):
    spark = get_spark(
        app_name="iowa-engine-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # Each whole-stage-codegen class lands in the JIT code cache;
            # the JVM's default ReservedCodeCacheSize (240m) can fill
            # late in a many-query run — compilation then stops and
            # later queries run interpreted (the measured r2->r4
            # q_session_native drift mechanism). Cohorts bound the
            # per-JVM query count, the headroom keeps even the largest
            # cohort fully compiled.
            "spark.driver.extraJavaOptions": (
                "-XX:ReservedCodeCacheSize=512m"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ingest_warehouse(spark, sf_dir: str, cpus: int, timed: bool):
    """Stage the per-core warehouse layout every cohort queries against.

    The testdata ships ONE single-row-group parquet file per table, which
    caps every scan of it at one task no matter how many cores (or
    executors) exist. No engine would serve queries off that layout at
    scale — the reference itself stages 285 chunk files. Pay the
    re-layout cost once, honestly (timed in the 'core' cohort only), then
    run every query against the splittable copy. Dims stay single-file
    (they broadcast); fact-sized tables get one file per core."""
    from concurrent.futures import ThreadPoolExecutor

    wh = tempfile.mkdtemp(prefix="bench_wh_")

    def _ingest(tbl: str, parts: int) -> None:
        read_table(spark, sf_dir, tbl).repartition(parts).write.mode(
            "overwrite"
        ).parquet(f"{wh}/{tbl}.parquet")

    layout = [
        ("lineitem", cpus),
        ("orders", cpus),
        ("events", cpus),
        # documents/embeddings stay few-file: the explode-heavy operators
        # repartition to core count themselves (_ensure_parallelism) and
        # the matmul path re-shuffles into blocks, so per-core source
        # files only add scan-task overhead.
        ("customer", 4),
        ("documents", 4),
        ("embeddings", 4),
        ("part", 1),
        ("supplier", 1),
        ("nation", 1),
        ("region", 1),
    ]
    # Thread-submitted writes overlap the single-task source scans —
    # same trick a cluster ingest job uses for many small inputs.
    # Best-of-2 when timed (single-shot walls swing on a busy JVM;
    # overwrite mode makes the second pass identical work).
    def ingest_all() -> None:
        with ThreadPoolExecutor(max_workers=len(layout)) as pool:
            list(pool.map(lambda tp: _ingest(*tp), layout))

    best = best_of(spark, "q_warehouse_ingest", ingest_all, 2 if timed else 1)
    return wh, round(best, 3)


def run_cohort(cohort: str) -> None:
    """Child mode: one JVM, one cohort. Prints a single JSON line with
    this cohort's timings + stage splits (parent merges)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _cpus()
    spark = _make_spark(cpus)
    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    stage_splits: dict[str, float] = {}

    wh, ingest_sec = prepare(spark, queries, sf_dir, cpus, cohort == "core")
    if cohort == "core":
        timings["q_warehouse_ingest"] = ingest_sec

    def timed(store, name, fn) -> None:
        # Best-of-2 (best_of): single-shot walls in one busy JVM swing
        # ±1s from GC/JIT/codegen; the min is the repeatable cost. Each
        # rep builds its work afresh and releases its cache after.
        store[name] = round(best_of(spark, name, fn), 3)

    for name in COHORTS[cohort]:
        timed(timings, name, lambda: force(queries[name](spark, wh)))

    if cohort == "simjoin":
        # Attribute q_ann_pq's wall between the Lloyd codebook TRAIN (a
        # one-off in production — indexes train offline and are reused)
        # and the per-query ADC scoring; adc_sec is the remainder.
        from iowa_liquor_sales_spark.operators.similarity import (
            _pq_train_encode,
            build_ann_index,
            ivf_topk,
            load_ann_index,
        )

        emb = read_table(spark, wh, "embeddings")
        timed(
            stage_splits,
            "q_ann_pq_train",
            lambda: _pq_train_encode(emb, 8, 4, 1, 64, "vec_id", "embedding"),
        )
        stage_splits["q_ann_pq_adc"] = round(
            max(timings.get("q_ann_pq", 0.0) - stage_splits["q_ann_pq_train"], 0.0),
            3,
        )

        # The prebuilt-index lifecycle split: q_ann_prebuilt's headline
        # wall includes the one-off index BUILD because the
        # oracle-checked query is self-contained; production builds once
        # and pays only the query side.
        idx_path = tempfile.mkdtemp(prefix="bench_annidx_") + "/ann"
        timed(
            stage_splits,
            "q_ann_prebuilt_build",
            lambda: build_ann_index(emb, idx_path, n_cells=16),
        )
        idx = load_ann_index(spark, idx_path)
        timed(
            stage_splits,
            "q_ann_prebuilt_query",
            lambda: force(
                ivf_topk(emb, query_id=7, k=10, nprobe=2, index=idx).select(
                    "vec_id", "rnk"
                )
            ),
        )

    if cohort == "baseline":
        staged = tempfile.mkdtemp(prefix="bench_stringly_") + "/lineitem_str"
        stage_stringly(spark, wh, staged, n_parts=int(cpus))
        timed(
            timings,
            "q_silver_transform",
            lambda: force(q_silver_transform(spark, staged)),
        )

        # Reference load-stage analog (BASELINE: 19k rows/s in-memory CSV
        # + COPY FROM STDIN): serialize lineitem to the same CSV wire
        # format (no header, NULLs as \N). COPY-wire serialization is
        # embarrassingly parallel and runs one task per core (the
        # cluster-shaped plan). Real file write — best-of-2.
        csv_dest = tempfile.mkdtemp(prefix="bench_csvload_") + "/lineitem_csv"
        timed(
            timings,
            "q_csv_load",
            lambda: read_table(spark, wh, "lineitem").write.mode("overwrite").option(
                "nullValue", "\\N"
            ).option("header", "false").csv(csv_dest),
        )

    print(
        "BENCH_COHORT_RESULT "
        + json.dumps(
            {"cohort": cohort, "timings": timings, "stage_splits": stage_splits}
        ),
        flush=True,
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--cohort":
        run_cohort(sys.argv[2])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    timings: dict[str, float] = {}
    stage_splits: dict[str, float] = {}
    cohort_walls: dict[str, float] = {}
    cohort_loadavg: dict[str, list[float]] = {}
    # Quiet-box reference walls: the COMMITTED BENCH_DETAIL.json from the
    # last quiet run. Read BEFORE this run overwrites the file — a cohort
    # whose wall exceeds its committed quiet wall by >1.5x is flagged
    # suspect_load, so a loaded-box record is self-identifying (round-9's
    # stats2 cohort read 253.7 s vs 135.5 s quiet — 6-9x per-query tails
    # that the artifact alone could not distinguish from a regression).
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    quiet_walls: dict[str, float] = {}
    quiet_sizes: dict[str, int] = {}
    try:
        # the COMMITTED record, explicitly: back-to-back local runs
        # would otherwise compare each run to the previous one (the
        # working-tree file) and never to the tracked quiet reference
        committed = subprocess.run(
            ["git", "-C", repo, "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True,
            text=True,
        )
        if committed.returncode == 0:
            _ref = json.loads(committed.stdout)
            quiet_walls = _ref.get("cohort_walls", {}) or {}
            quiet_sizes = _ref.get("cohorts", {}) or {}
    except (OSError, ValueError):
        pass
    if not quiet_walls:
        try:
            with open(detail_path) as fh:
                _ref = json.load(fh)
                quiet_walls = _ref.get("cohort_walls", {}) or {}
                quiet_sizes = _ref.get("cohorts", {}) or {}
        except (OSError, ValueError):
            pass
    # A cohort that legitimately GAINED queries since the committed
    # record (frozen-boundary rule: new queries append) would read as
    # "suspect load" on membership growth alone — scale the reference
    # wall by the size ratio before comparing.
    for c in list(quiet_walls):
        if quiet_sizes.get(c) and len(COHORTS.get(c, [])) > quiet_sizes[c]:
            quiet_walls[c] = quiet_walls[c] * (
                len(COHORTS[c]) / quiet_sizes[c]
            )
    for cohort in COHORTS:
        la0 = os.getloadavg()[0]
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cohort", cohort],
            capture_output=True,
            text=True,
            env=os.environ,
        )
        cohort_walls[cohort] = round(time.perf_counter() - t0, 3)
        cohort_loadavg[cohort] = [round(la0, 2), round(os.getloadavg()[0], 2)]
        payload = None
        for line in proc.stdout.splitlines():
            if line.startswith("BENCH_COHORT_RESULT "):
                payload = json.loads(line[len("BENCH_COHORT_RESULT "):])
        if proc.returncode != 0 or payload is None:
            sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-4000:])
            raise RuntimeError(f"cohort {cohort!r} failed (rc={proc.returncode})")
        timings.update(payload["timings"])
        stage_splits.update(payload["stage_splits"])

    total = round(sum(timings.values()), 3)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "stage_splits": stage_splits,
        "sf": sf,
    }
    suspect = sorted(
        c
        for c, w in cohort_walls.items()
        if quiet_walls.get(c) and w > 1.5 * quiet_walls[c]
    )
    cpus = int(_cpus())
    detail = dict(full)
    detail["cpus"] = cpus
    detail["cohorts"] = {k: len(v) for k, v in COHORTS.items()}
    detail["cohort_walls"] = cohort_walls
    detail["cohort_loadavg"] = cohort_loadavg
    detail["quiet_reference_walls"] = quiet_walls
    detail["suspect_load_cohorts"] = suspect
    # The full per-query map CANNOT ride the stdout contract: the
    # driver parses a JSON line from the final ~2000 chars of output
    # (round 8's >2000-char full line lost the whole record —
    # BENCH_r08.json has rc=0 but no parsed payload), and 161 query
    # names alone are ~4000 chars. So the same-run record lives in
    # BOTH the canonical BENCH_DETAIL.json (the quiet-reference
    # mechanics above) and a per-core-count file that a subsequent
    # run at a DIFFERENT core count (the driver's scaling rerun)
    # cannot overwrite — round 10's 8-core rerun clobbered the
    # 32-core per-query record, leaving PERF_r10.per_query empty.
    detail_percpu = f"BENCH_DETAIL_c{cpus}.json"
    for fname in ("BENCH_DETAIL.json", detail_percpu):
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), fname),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(json.dumps(full))
    # Compact trailer: ALWAYS the last line, short enough for any tail
    # window. Same metric name + total as the full line above.
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
                "cpus": cpus,
                "top10": top10,
                "loadavg": {
                    c: la for c, la in cohort_loadavg.items()
                },
                "suspect_load_cohorts": suspect,
                "detail": detail_percpu,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
