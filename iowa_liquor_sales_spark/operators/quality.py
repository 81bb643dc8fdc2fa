"""Data-quality validation operators.

The reference's correctness style is conservation checks — row counts
preserved across stages, zero nulls after coercion, `COUNT(*) > 0` after
load (tests/test_transform.py:11, tests/test_load.py:14-16, and the
Postgres PK/FK constraints). This module turns that style into engine
surface: declarative expectations evaluated in ONE aggregate pass over the
table (every rule is a conditional count inside the same scan — no
rule-per-scan blowup at 100 TB), plus key/referential rules that need their
own aggregate or anti-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from iowa_liquor_sales_spark.caching import pin


def rule_counts(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate named boolean rules in one scan: returns a single row with
    ``n_rows`` and one violation count per rule (count of rows where the
    rule is FALSE or NULL)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, cond in rules.items():
        aggs.append(
            F.count(F.when(~F.coalesce(cond, F.lit(False)), F.lit(1))).alias(
                f"viol_{name}"
            )
        )
    return df.agg(*aggs)


def not_null(col: str) -> Column:
    return F.col(col).isNotNull()


def unique_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rows beyond the first per key (0 = key is unique)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("n_extra_rows"))
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Count of child rows with no parent (broadcast anti-join, one scan)."""
    orphans = child.join(
        broadcast(parent.select(parent_key).distinct()),
        child[child_key] == parent[parent_key],
        "left_anti",
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


def table_checksum(df: DataFrame, cols: list[str], null_token: str = "\\N") -> DataFrame:
    """Order-independent table digest: XOR of per-row md5-derived hashes
    over a canonical ``|``-joined rendering of ``cols`` (NULLs become
    ``null_token`` explicitly — concat_ws's silent null-skipping would
    make ('a', NULL) and ('a',) collide).

    XOR is commutative/associative with no overflow, so the digest is
    independent of partitioning and row order and mergeable across
    shards — the cheap cross-engine/cross-environment answer to "did the
    copy land intact?" (same role as the reference's row-count
    verification in tests/test_load.py:14, but content-sensitive).
    One narrow scan + one 1-row aggregate; no shuffle of data rows.
    Stick to int/string columns for cross-engine digests — float/
    timestamp→string renderings are engine-specific.
    """
    from ..functions.hashing import hash60

    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit(null_token)) for c in cols]
    )
    return df.agg(
        F.expr("count(*)").alias("n_rows"),
        F.bit_xor(hash60(canon)).alias("checksum"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: any QI
    group with fewer than ``k`` rows re-identifies its members (the
    linkage-attack precondition), so a release gate needs the violating
    share BEFORE export — the structural complement of value-level
    scrubbing (:mod:`~.curation` PII scrub).

    One map-side-combinable aggregate into QI groups, then an O(groups)
    rollup. Returns a single row: (n_groups, n_violating_groups,
    n_rows_at_risk, risk_ppm) — rows at risk per million, integer-exact.
    """
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rolled = groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("n") < k).cast("long")).alias("n_violating_groups"),
        F.sum(
            F.when(F.col("n") < k, F.col("n")).otherwise(F.lit(0))
        ).alias("n_rows_at_risk"),
        F.sum("n").alias("_total"),
    )
    # integer div, never float-cast: CAST(double AS BIGINT) truncates in
    # Spark but rounds in ANSI engines — ppm must be engine-exact.
    return rolled.select(
        "n_groups",
        "n_violating_groups",
        "n_rows_at_risk",
        F.expr("(1000000 * n_rows_at_risk) div _total").alias("risk_ppm"),
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit — the companion gate to
    :func:`k_anonymity_audit`: a QI group can be large (k-safe) yet
    expose its members anyway if the SENSITIVE attribute barely varies
    inside it (homogeneity attack: "everyone in this group has the same
    diagnosis"). A group is l-diverse iff it contains >= ``l`` distinct
    sensitive values.

    One aggregate with an exact count-distinct per QI group (shuffle is
    O(groups × distinct-values), the same cost class as the group-by
    itself), then an O(groups) rollup. Returns one row: (n_groups,
    n_low_diversity, n_rows_exposed, exposed_ppm).
    """
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct(F.col(sensitive_col)).alias("ndist"),
    )
    rolled = groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("ndist") < l).cast("long")).alias("n_low_diversity"),
        F.sum(
            F.when(F.col("ndist") < l, F.col("n")).otherwise(F.lit(0))
        ).alias("n_rows_exposed"),
        F.sum("n").alias("_total"),
    )
    return rolled.select(
        "n_groups",
        "n_low_diversity",
        "n_rows_exposed",
        F.expr("(1000000 * n_rows_exposed) div _total").alias(
            "exposed_ppm"
        ),
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
) -> DataFrame:
    """t-closeness audit — the third rung after k-anonymity and
    l-diversity: a QI group leaks information when the DISTRIBUTION of
    its sensitive attribute diverges from the global one (skewness
    attack: the group is diverse but overwhelmingly "positive"). For an
    ORDERED sensitive attribute the distance is the Earth Mover's
    Distance, which collapses to the mean absolute difference of the
    two CDFs: EMD = (1/(m-1)) * sum_j |F_class(j) - F_global(j)|.

    Exactness: the CDF difference is cleared of fractions by
    cross-multiplying — per prefix j the term is
    |cum_class_j * N - cum_global_j * n_class| (exact integers), summed
    per class, then one integral division onto a ppm grid. No float
    touches the pipeline, so the audit is bit-stable on any
    partitioning and any engine. DECIMAL(38,0) accumulators keep the
    cross-products overflow-safe past sf1e3.

    Scale shape: one groupBy (class x bin) on the fact, then an
    O(classes x bins) dense grid (zero-filled via cross join, the
    cumulative window needs every bin present), window cumsum per
    class, O(classes) rollup. Nothing after the first aggregate depends
    on the fact's row count.

    Returns one row per QI class: quasi cols, n_class, emd_ppm.
    """
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bins = cells.groupBy(sensitive_col).agg(
        F.sum("c").cast("long").alias("g")
    )
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("c").cast("long").alias("n_class")
    )
    tot = bins.agg(
        F.sum("g").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m_bins"),
    )
    grid = (
        classes.crossJoin(broadcast(bins))
        .join(cells, [*quasi_cols, sensitive_col], "left")
        .select(
            *quasi_cols,
            sensitive_col,
            "n_class",
            "g",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*quasi_cols)
        .orderBy(sensitive_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        *quasi_cols,
        "n_class",
        F.sum("c").over(w).alias("cum_c"),
        F.sum("g").over(w).alias("cum_g"),
    )
    per = cum.crossJoin(broadcast(tot)).groupBy(*quasi_cols).agg(
        F.max("n_class").alias("n_class"),
        F.sum(
            F.abs(
                F.col("cum_c").cast("decimal(38,0)") * F.col("n_total")
                - F.col("cum_g").cast("decimal(38,0)") * F.col("n_class")
            )
        ).alias("emd_num_"),
        F.max("n_total").alias("n_total"),
        F.max("m_bins").alias("m_bins"),
    )
    return per.select(
        *quasi_cols,
        "n_class",
        F.expr(
            "CAST((emd_num_ * 1000000) div "
            "(CAST(n_class AS DECIMAL(38,0)) * n_total * (m_bins - 1)) "
            "AS BIGINT)"
        ).alias("emd_ppm"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
) -> DataFrame:
    """Differential-privacy count release (Laplace mechanism, Dwork et
    al. 2006): per group, ``noisy_count_e6 = 1e6 * count + noise`` with
    Laplace(1/epsilon) noise — sensitivity of a count is 1, so this is
    the canonical eps-DP histogram release.

    DETERMINISM CAVEAT (by design, stated loudly): the noise stream is
    derived from a hash of the group key via the inverse-CDF transform,
    so repeated runs release IDENTICAL noise — that makes the mechanism
    testable/oracle-checkable but NOT actually private (a fresh random
    draw per release is required for the eps-DP guarantee; swap the
    ``u`` expression for a true RNG in production). The mechanics the
    operator pins down — grouping, sensitivity-1 counts, the Laplace
    inverse CDF, integer post-processing — are the real ones.

    Exactness: the uniform is the dyadic rational (2h+1)/2^21 (h a
    20-bit key hash), so ``1 - |2u-1|`` is computed EXACTLY in both
    engines; the only cross-engine wobble is libm ``ln`` on an identical
    input, absorbed by the 1e-6 floor grid like every other log here.

    Scale shape: one map-side-combinable count aggregate; the noise is a
    scalar expression over the O(groups) result.
    """
    from ..functions.hashing import hash60

    cnt = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    h = hash60(key) % F.lit(1048576)
    num = (h * 2 + 1) - F.lit(1048576)  # odd, in [-2^20+1, 2^20-1], never 0
    arg = (F.lit(1048576) - F.abs(num)) / F.lit(1048576.0)
    noise_e6 = F.floor(
        F.signum(num.cast("double")) * -F.log(arg) / F.lit(float(epsilon)) * F.lit(1e6)
    ).cast("long")
    return cnt.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        (F.col("n") * F.lit(1_000_000) + noise_e6).alias("noisy_count_e6"),
    )


def bucket_checksum_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    cols: list[str],
    n_buckets: int = 64,
    null_token: str = "\\N",
) -> DataFrame:
    """Anti-entropy bucket diff (the Merkle-tree repair primitive, one
    level deep): hash-bucket both table versions on the key, XOR-digest
    each bucket, and return ONLY the buckets whose digest or row count
    differs — locating replication drift with O(n_buckets) comparison
    rows instead of an O(rows) full-table diff. Follow up by shipping /
    re-syncing just the differing buckets.

    Same canonical rendering discipline as :func:`table_checksum`
    (explicit NULL token; int/string cols only — float renderings are
    engine-specific). Scale shape: one narrow scan + map-side-combinable
    XOR aggregate per side (no data-row shuffle), then an O(n_buckets)
    outer join.
    """
    from ..functions.hashing import hash60

    def digests(df: DataFrame, tag: str) -> DataFrame:
        canon = F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(null_token))
                for c in cols
            ],
        )
        bucket = F.pmod(hash60(F.col(key_col).cast("string")), F.lit(n_buckets))
        return df.groupBy(bucket.alias("bucket")).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_rows_{tag}"),
            F.bit_xor(hash60(canon)).alias(f"checksum_{tag}"),
        )

    a, b = digests(df_a, "a"), digests(df_b, "b")
    return (
        a.join(b, "bucket", "full_outer")
        .filter(
            ~(
                F.col("checksum_a").eqNullSafe(F.col("checksum_b"))
                & F.col("n_rows_a").eqNullSafe(F.col("n_rows_b"))
            )
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.coalesce("n_rows_a", F.lit(0)).cast("long").alias("n_rows_a"),
            F.coalesce("n_rows_b", F.lit(0)).cast("long").alias("n_rows_b"),
            F.coalesce("checksum_a", F.lit(0)).cast("long").alias("checksum_a"),
            F.coalesce("checksum_b", F.lit(0)).cast("long").alias("checksum_b"),
        )
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC-AUC as a single distributed aggregate — the
    classifier-eval number every quality-filter training loop watches
    (e.g. a fastText/logreg quality score vs a held-out label), computed
    without collecting scores to the driver.

    Uses the grouped Mann–Whitney identity: group rows BY SCORE first
    (one map-side-combinable aggregate to the O(distinct-scores)
    relation), then for each score group the positives beat every
    negative in strictly-lower groups and half-tie with negatives in
    their own group:

        AUC = sum_g( npos_g * (cum_neg_below_g + nneg_g / 2) )
              / (n_pos * n_neg)

    Everything stays integer: the numerator is accumulated as
    ``npos_g * (2*cum_neg_below + nneg_g)`` (twice the pair count) and
    the result is emitted as ``auc_ppm = 2N * 1e6 div (2 * n_pos *
    n_neg)`` — exact, engine-portable, no float summation order issues.
    The pair-count numerator and denominator run in DECIMAL(38,0), not
    int64: pair counts reach ``n_pos * n_neg`` ≈ n²/4, which passes
    2^63 at ~4.3e9 rows — int64 would wrap silently (non-ANSI) right
    at the 100 TB scale this is for, while DuckDB's HUGEINT would not,
    so the engines would diverge beyond the small-sf gate's reach.

    The running-negatives window orders the GROUPED relation, so its
    cost is O(distinct scores), not O(rows) — for continuous scores,
    quantize to a grid first (same contract as the sketch operators).
    Returns one row (n_pos, n_neg, auc_ppm); auc_ppm is NULL when
    either class is empty.
    """
    from pyspark.sql import Window

    is_pos = F.col(label_col).cast("boolean")
    g = df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("npos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).cast("long").alias("nneg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn("cneg", F.coalesce(F.sum("nneg").over(w), F.lit(0)))
    return c.agg(
        F.sum("npos").cast("long").alias("n_pos"),
        F.sum("nneg").cast("long").alias("n_neg"),
        F.expr(
            "CASE WHEN sum(npos) > 0 AND sum(nneg) > 0 THEN"
            " CAST(sum(CAST(npos AS DECIMAL(38,0)) * (2 * cneg + nneg))"
            " * 1000000"
            " div (2 * CAST(sum(npos) AS DECIMAL(38,0)) * sum(nneg))"
            " AS BIGINT) END"
        ).cast("long").alias("auc_ppm"),
    )


def join_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Join-key skew diagnosis — the report to run BEFORE a big
    shuffle join ships: per-key row counts for the ``top_k`` heaviest
    keys plus each key's exact share of the table in ppm. A top-1
    share in the percents is the cue to salt that key
    (:func:`..joins.salted_join`) or lean on AQE skew splitting; flat
    shares mean the plain shuffle is safe.

    One map-side-combinable count aggregate to the O(distinct keys)
    relation, a scalar total attached as a 1-row broadcast, and a
    global sort LIMITed to ``top_k`` (TakeOrderedAndProject — never a
    full single-partition sort). All integer arithmetic.

    Returns (key, n_rows, share_ppm, rnk), heaviest first.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("total"))
    top = (
        counts.join(broadcast(total))
        .select(
            "key",
            "n_rows",
            F.expr("n_rows * 1000000 div total").alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(top_k)
    )
    w = Window.orderBy(F.col("n_rows").desc(), "key")
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def reliability_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram (calibration curve) as one aggregate — the
    companion report to :func:`auc_exact`: AUC says the score RANKS
    well; this says whether its MAGNITUDE means what it claims. Rows
    bin by score into ``n_bins`` equal-width bins over [0, max(score)];
    per bin, the positive rate vs the mean (max-normalized) score — a
    well-calibrated filter has the two track each other, and a decile
    whose positive rate drifts from its score is exactly the slice of a
    quality classifier to re-threshold before a 100 TB curation run.

    Scores must be non-negative integers (quantize first — the engine's
    standard grid contract). All outputs exact: rates in ppm by
    integral division, and the score sum ACCUMULATES in DECIMAL(38,0)
    (not summed in int64 and cast after — ``n_rows·smax`` alone passes
    2^63 well below 100 TB row counts) so ``sum(score)·1e6`` cannot
    wrap on either engine.

    One map-side-combinable aggregate to O(n_bins) rows; the score max
    attaches as a 1-row broadcast. Returns (bin, n_rows, n_pos,
    pos_rate_ppm, mean_score_ppm).
    """
    smax = df.agg(F.max(F.col(score_col)).alias("smax"))
    binned = df.join(broadcast(smax)).select(
        F.expr(
            f"least({score_col} * {n_bins} div (smax + 1), {n_bins - 1})"
        ).cast("int").alias("bin"),
        F.col(score_col).alias("score"),
        F.col(label_col).cast("boolean").alias("y"),
        "smax",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("n_pos"),
            F.sum(F.col("score").cast("decimal(38,0)")).alias("ssum"),
            F.max("smax").alias("smax"),
        )
        .select(
            "bin",
            "n_rows",
            "n_pos",
            F.expr("n_pos * 1000000 div n_rows").cast("long").alias("pos_rate_ppm"),
            F.expr(
                "CASE WHEN smax > 0 THEN CAST(ssum"
                " * 1000000 div (CAST(n_rows AS DECIMAL(38,0)) * smax)"
                " AS BIGINT) ELSE 0 END"
            ).alias("mean_score_ppm"),
        )
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Precision/recall curve at ``n_bins`` score thresholds — the
    third leg of the classifier-eval family (:func:`auc_exact` ranks,
    :func:`reliability_bins` calibrates, this picks the operating
    point): for each threshold bin t, precision and recall of the rule
    "keep rows with score in bin t or higher" — exactly the decision a
    quality-filter threshold sweep makes before a 100 TB curation run.

    Same non-negative-integer-score contract and equal-width bin grid
    as :func:`reliability_bins`. One aggregate to O(n_bins) rows, then
    suffix-cumulative sums via a window over those n_bins rows (never
    over data rows); the positive total rides the same window. Exact
    ppm integral division; precision/recall are NULL when the
    denominator is empty.

    Returns (threshold_bin, n_above, pos_above, precision_ppm,
    recall_ppm) — threshold_bin ascending, n_above shrinking.
    """
    from pyspark.sql import Window

    smax = df.agg(F.max(F.col(score_col)).alias("smax"))
    binned = df.join(broadcast(smax)).select(
        F.expr(
            f"least({score_col} * {n_bins} div (smax + 1), {n_bins - 1})"
        ).cast("int").alias("bin"),
        F.col(label_col).cast("boolean").alias("y"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("npos"),
    )
    wsfx = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        g.select(
            F.col("bin").alias("threshold_bin"),
            F.sum("n").over(wsfx).cast("long").alias("n_above"),
            F.sum("npos").over(wsfx).cast("long").alias("pos_above"),
            F.sum("npos").over(wall).cast("long").alias("_tp"),
        )
        .select(
            "threshold_bin",
            "n_above",
            "pos_above",
            F.expr(
                "CASE WHEN n_above > 0 THEN pos_above * 1000000 div n_above END"
            ).cast("long").alias("precision_ppm"),
            F.expr(
                "CASE WHEN _tp > 0 THEN pos_above * 1000000 div _tp END"
            ).cast("long").alias("recall_ppm"),
        )
    )


def cuped_adjusted_means(
    per_unit: DataFrame,
    arm_col: str = "arm",
    pre_col: str = "pre",
    post_col: str = "post",
) -> DataFrame:
    """CUPED variance-reduced A/B means (Deng, Xu, Kohavi, Walker:
    "Improving the sensitivity of online controlled experiments by
    utilizing pre-experiment data", WSDM 2013): per experiment arm, the
    raw post-period mean and the covariate-adjusted mean

        adj_i = post_i − θ·(pre_i − mean(pre)),   θ = Cov(pre, post) / Var(pre)

    with θ pooled across arms. The adjusted means keep each arm's
    expectation (pre is pre-randomization, so E[pre|arm] is constant)
    while removing the pre-period component of the variance — the
    standard lever for detecting small uplifts without more traffic.

    Inputs are one row per RANDOMIZATION UNIT with integer pre/post
    measures (cents/micros — the engine grid contract). Both moment
    passes are exact: Σx, Σy, Σx², Σxy in DECIMAL(38,0) (``xsum``),
    converted via the deterministic hi/lo ``det_double`` split, so θ
    and the adjusted means are bit-identical in the DuckDB twin. θ is 0
    when Var(pre) is 0 (degenerate covariate → adjustment is a no-op).

    Scale shape: ONE global moment aggregate (1 row, broadcast back) +
    one per-arm aggregate — no shuffle wider than O(arms). Returns
    (arm, n_units, mean_post_e6, mean_adj_e6) with means floored at
    1e-6 (per-unit measure units).
    """
    from ..functions.sums import det_double, floor_scaled, xsum

    g = per_unit.agg(
        F.count(F.lit(1)).alias("n_units_all"),
        xsum(F.col(pre_col), "sx_"),
        xsum(F.col(post_col), "sy_"),
        xsum(F.col(pre_col) * F.col(pre_col), "sxx_"),
        xsum(F.col(pre_col) * F.col(post_col), "sxy_"),
    ).select(
        F.col("n_units_all").cast("double").alias("n_all"),
        det_double("sx_").alias("sx"),
        det_double("sy_").alias("sy"),
        det_double("sxx_").alias("sxx"),
        det_double("sxy_").alias("sxy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_all")
    var = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_all")
    g = g.select(
        "n_all",
        "sx",
        F.when(var > 0, cov / var).otherwise(F.lit(0.0)).alias("theta"),
    )
    arms = per_unit.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).alias("n_units"),
        xsum(F.col(pre_col), "sxa_"),
        xsum(F.col(post_col), "sya_"),
    ).select(
        "arm",
        F.col("n_units").cast("long").alias("n_units"),
        det_double("sxa_").alias("sxa"),
        det_double("sya_").alias("sya"),
    )
    mean_post = F.col("sya") / F.col("n_units")
    mean_adj = mean_post - F.col("theta") * (
        F.col("sxa") / F.col("n_units") - F.col("sx") / F.col("n_all")
    )
    return arms.join(broadcast(g)).select(
        "arm",
        "n_units",
        floor_scaled(mean_post, 6, "mean_post_e6"),
        floor_scaled(mean_adj, 6, "mean_adj_e6"),
    )


def bh_fdr(
    hypotheses: DataFrame,
    id_col: str,
    p_col: str = "p_ppm",
    alpha_ppm: int = 100_000,
) -> DataFrame:
    """Benjamini–Hochberg FDR control over m simultaneous hypotheses —
    the multiple-testing leg of the classifier-eval family: a curation
    run that sweeps thousands of per-slice quality checks (per-source
    drift, per-language filter lift, per-shard anomaly scores) cannot
    threshold each p-value at alpha without drowning in false
    discoveries; BH rejects the largest prefix of the p-sorted list
    with ``p_(i) <= i * alpha / m`` and guarantees FDR <= alpha
    (Benjamini & Hochberg, JRSS-B 1995).

    All-integer and exact: p-values arrive in ppm, the step-up
    comparison is ``p_ppm * m <= rank * alpha_ppm`` (int64 — wraps only
    past ~9e12 hypotheses), and the rejection cutoff is a max over the
    O(m) hypothesis relation. Grouped-first contract: this runs over
    the HYPOTHESES relation (one row per test, already aggregated from
    the data), so the two global windows sort m rows, never data rows
    — same shape as :func:`auc_exact`'s distinct-score window.

    Returns (id, p_ppm, rnk, reject) — rnk is the BH rank (ties broken
    by id for engine determinism), reject is the step-up decision.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col("p"), F.col("id"))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = hypotheses.select(
        F.col(id_col).alias("id"), F.col(p_col).cast("long").alias("p")
    ).select(
        "id",
        "p",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    crit = F.col("p") * F.col("m") <= F.col("rnk") * F.lit(int(alpha_ppm))
    cutoff = F.max(F.when(crit, F.col("rnk")).otherwise(F.lit(0))).over(wall)
    return ranked.select(
        F.col("id"),
        F.col("p").alias("p_ppm"),
        "rnk",
        (F.col("rnk") <= cutoff).alias("reject"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two groups — the
    nonparametric "did the quality filter shift the distribution?"
    check that compares SHAPES, not means: does group A's ``value_col``
    stochastically dominate group B's? The workhorse A/B readout when
    values are skewed (doc lengths, latencies) and the t-test's
    normality premise is junk.

    Scale contract (same as :func:`~.aggregates.spearman_corr`): no
    row-level window ever runs. Ranks come from the combined DISTINCT-
    value relation (O(distinct), map-side combinable conditional
    counts) via a DISTRIBUTED prefix sum (:func:`.ranking.
    global_cumsum`), tie-corrected average ranks carried as exact
    DOUBLED integers ``r2 = 2*cum_before + cnt + 1``. The rank-sum,
    U statistic, and the tie term ``sum(t^3 - t)`` are exact
    DECIMAL(38,0); the normal-approximation z-score (no continuity
    correction) pays ONE double sqrt at the end, floored to the ppm
    grid — identical IEEE arithmetic in any engine given identical
    integer inputs.

    Returns one row: (n_a, n_b, u2_a, z_ppm) where ``u2_a`` is the
    DOUBLED U statistic of group A (doubling keeps tie-averaged
    half-integer U exact in int64).
    """
    from .ranking import global_cumsum

    d = df.select(
        F.col(value_col).alias("v"), F.col(group_col).alias("g")
    ).filter(F.col("g").isin([group_a, group_b]))
    c = d.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    cum = global_cumsum(c, ["v"], "cnt", out_col="cum")
    r2 = cum.select(
        "ca",
        "cnt",
        (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias("r2"),
    )
    s = r2.agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum(F.col("cnt") - F.col("ca")).cast("decimal(38,0)").alias("nb"),
        F.sum(F.col("ca").cast("decimal(38,0)") * F.col("r2")).alias("ra2"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("ties"),
    )
    n = F.col("na") + F.col("nb")
    # 2*U_a = R2_a - n_a*(n_a+1); mean(2U) = n_a*n_b; var(U) with tie
    # correction = n_a*n_b*((N+1)*N*(N-1) - sum(t^3-t)) / (12*N*(N-1)).
    u2 = F.col("ra2") - F.col("na") * (F.col("na") + 1)
    var_num = (
        F.col("na") * F.col("nb") * ((n + 1) * n * (n - 1) - F.col("ties"))
    )
    var_den = 12 * n * (n - 1)
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        u2.cast("long").alias("u2_a"),
        F.floor(
            (u2 - F.col("na") * F.col("nb")).cast("double")
            / F.lit(2.0)
            / F.sqrt(var_num.cast("double") / var_den.cast("double"))
            * 1e6
        )
        .cast("long")
        .alias("z_ppm"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between two groups'
    ``value_col`` distributions — the drift detector that catches ANY
    distributional change (location, spread, shape), complementing
    :func:`~.text.term_kl_divergence`'s token-level drift: D = max over
    v of |ECDF_a(v) - ECDF_b(v)|.

    Exact integers throughout: per-distinct-value conditional counts
    (O(distinct) relation), two distributed prefix sums
    (:func:`.ranking.global_cumsum` — never a single-task ORDER BY
    window), and the ECDF difference cross-multiplied to avoid
    division: ``D_num = max |cumA*n_b - cumB*n_a|``, reported as
    ``ks_ppm = D_num * 1e6 div (n_a*n_b)`` (truncating div, matching
    DuckDB ``//``). ``ks_at`` is the smallest value attaining the max
    (deterministic tie-break).

    Returns one row: (n_a, n_b, ks_ppm, ks_at).
    """
    from .ranking import global_cumsum

    d = df.select(
        F.col(value_col).alias("v"), F.col(group_col).alias("g")
    ).filter(F.col("g").isin([group_a, group_b]))
    c = d.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("g") == group_a, 0).otherwise(1))
        .cast("long")
        .alias("cb"),
    )
    # ONE range shuffle serves both prefix sums (multi-column
    # global_cumsum, optimization round 10): the old form ran the whole
    # range-shuffle/persist/offsets machinery twice over the same
    # O(distinct) relation — and, worse, each invocation plus the
    # totals aggregate re-ran the fact scan+aggregate, three passes in
    # all. Now the fact is consumed exactly once; the group totals
    # derive from the cumsum OUTPUT (which reads the machinery's own
    # persisted relation), not from a re-aggregate. cumB recovers as
    # cum_cnt - cum_ca (packing both counts into one long would cap
    # group sizes at 2^31 — still avoided).
    cnt = c.select("v", "ca", (F.col("ca") + F.col("cb")).alias("cnt"))
    cum = global_cumsum(
        cnt, ["v"], ["ca", "cnt"], out_col=["cuma", "cumt"]
    ).select("v", "cuma", "cumt")
    tot = cum.agg(
        F.max("cuma").cast("decimal(38,0)").alias("na"),
        (F.max("cumt") - F.max("cuma")).cast("decimal(38,0)").alias("nb"),
    )
    diff = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "v",
            "na",
            "nb",
            F.abs(
                F.col("cuma").cast("decimal(38,0)") * F.col("nb")
                - (F.col("cumt") - F.col("cuma")).cast("decimal(38,0)")
                * F.col("na")
            ).alias("dnum"),
        )
    )
    mx = diff.groupBy("na", "nb").agg(F.max("dnum").alias("dmax"))
    at = (
        diff.join(
            F.broadcast(mx.select(F.col("dmax").alias("_dmax"))),
            F.col("dnum") == F.col("_dmax"),
        )
        .agg(F.min("v").alias("ks_at"))
    )
    return (
        mx.crossJoin(F.broadcast(at))
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            (F.col("dmax") * 1000000).alias("_sc"),
            F.col("na"),
            F.col("nb"),
            F.col("ks_at"),
        )
        .select(
            "n_a",
            "n_b",
            F.expr("CAST(_sc div (na * nb) AS BIGINT)").alias("ks_ppm"),
            "ks_at",
        )
    )


def chi2_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns (source x language, split x label, shard x quality-bucket)
    plus Cramér's V effect size — the corpus-balance check that says
    whether composition differs across slices BEYOND count noise.

    Everything reduces to the O(r*c) contingency relation: one
    grouped count (map-side combinable), marginals by two tiny
    re-aggregations, N by one more. The statistic uses the
    sum-of-squares form chi2 = N * (sum O^2/(rt*ct) - 1), whose per-cell
    term is computed as an exact integer ``(O^2 * scale) div (rt*ct)``
    (truncating div, bit-identical to DuckDB ``//``); the sum is
    bounded by ``min(r, c) * scale`` so DECIMAL(38,0) never overflows
    even at 1e13 rows. Truncation error is at most ``cells * N /
    scale`` chi2-units — at the default 1e12 scale, far below the ppm
    grid for any real contingency table; and since engine and oracle
    truncate IDENTICALLY, the gate comparison is exact regardless.
    Cramér's V = sqrt(chi2 / (N * min(r-1, c-1))) pays one double sqrt,
    floored to ppb.

    Returns one row: (n, n_rows, n_cols, chi2_ppm, cramers_v_ppb).
    """
    obs = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("o"))
    rt = obs.groupBy("r").agg(F.sum("o").alias("rt"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("ct"))
    cells = obs.join(F.broadcast(rt), "r").join(F.broadcast(ct), "c")
    s = cells.agg(
        F.sum("o").cast("decimal(38,0)").alias("n"),
        F.sum(
            F.expr(f"(o * o * CAST({scale} AS DECIMAL(38,0))) div (rt * ct)")
        ).alias("t"),
        F.count_distinct("r").cast("decimal(38,0)").alias("nr"),
        F.count_distinct("c").cast("decimal(38,0)").alias("nc"),
    )
    # chi2_ppm = N * (t - scale) * 1e6 div scale; V over the same grid.
    chi2_ppm = F.expr(
        f"(n * (t - {scale}) * 1000000) div CAST({scale} AS DECIMAL(38,0))"
    )
    k = F.expr("CAST(least(nr - 1, nc - 1) AS DECIMAL(38,0))")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("nr").cast("long").alias("n_rows"),
        F.col("nc").cast("long").alias("n_cols"),
        chi2_ppm.cast("long").alias("chi2_ppm"),
        F.floor(
            F.sqrt(
                (chi2_ppm.cast("double") / 1e6)
                / (F.col("n") * k).cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("cramers_v_ppb"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal–Wallis H test across k groups — the k-sample
    generalization of :func:`mann_whitney_u` ("does ANY language/source
    slice have a shifted value distribution?"), with tie correction.

    Same rank machinery: tie-averaged ranks as exact doubled integers
    from a DISTRIBUTED prefix sum over the O(distinct) value relation
    (:func:`.ranking.global_cumsum`), per-(value, group) counts joined
    on value (O(distinct·k) rows), doubled rank-sums R2_g exact in
    DECIMAL(38,0). The per-group ratio R_g^2/n_g is irreducibly
    fractional, so each term lands on a 1e6 grid via truncating div
    (``(R2_g^2 * 1e6) div n_g`` — identical truncation in DuckDB
    ``//``, so the gate comparison stays exact); H and the tie factor
    finish in double with one expression shape, floored to ppm:
    H = 3*S/(1e6*N*(N+1)) - 3*(N+1), H' = H*(N^3-N)/((N^3-N)-ties).

    Returns one row: (k, n, h_ppm).
    """
    from .ranking import global_cumsum

    d = df.select(
        F.col(value_col).alias("v"), F.col(group_col).alias("g")
    ).filter(F.col("g").isNotNull())
    # NOTE (optimization round 10): deriving c from a persisted
    # (v, g) aggregate (one fact pass instead of two) was A/B'd and
    # REJECTED — 1.60 -> 2.02 s: the fact scan here is cheap while the
    # extra shuffle + cache fill over the O(distinct·k) relation is
    # not. Two direct map-side-combinable aggregates stay.
    c = d.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r2 = global_cumsum(c, ["v"], "cnt", out_col="cum").select(
        "v",
        "cnt",
        (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias("r2"),
    )
    cvg = d.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("long").alias("cg")
    )
    per_g = (
        cvg.join(r2, "v")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("decimal(38,0)").alias("ng"),
            F.sum(F.col("cg").cast("decimal(38,0)") * F.col("r2")).alias(
                "rg2"
            ),
        )
    )
    s = per_g.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("ng").alias("n"),
        F.sum(
            F.expr("(rg2 * rg2 * 1000000) div ng")
        ).alias("s6"),
    )
    ties = r2.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("ties")
    )
    n = F.col("n")
    h = (
        F.lit(3.0) * F.col("s6").cast("double")
        / (F.lit(1e6) * (n * (n + 1)).cast("double"))
        - F.lit(3.0) * (n + 1).cast("double")
    )
    tie_adj = (n * n * n - n).cast("double") / (
        (n * n * n - n) - F.col("ties")
    ).cast("double")
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("k").cast("long").alias("k"),
        n.cast("long").alias("n"),
        F.floor(h * tie_adj * 1e6).cast("long").alias("h_ppm"),
    )


def anova_f(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic across k groups on an integer-valued
    column — the parametric sibling of :func:`kruskal_wallis` (means
    instead of ranks; use this when the value is well-behaved and the
    rank test when it is skewed).

    One map-side-combinable aggregate into groups (sum, sum of squares,
    count — all exact DECIMAL(38,0)), then an O(k) rollup. The
    irreducible fractions S_g^2/n_g land on a 1e6 grid via truncating
    div (same convention as :func:`kruskal_wallis`); F finishes in
    double, floored to ppm: with T6 = sum_g (S_g^2*1e6) div n_g,
    SSB = T6/1e6 - S^2/N, SSW = sum(x^2) - T6/1e6,
    F = (SSB/(k-1)) / (SSW/(N-k)).

    Returns one row: (k, n, f_ppm).
    """
    g = df.select(
        F.col(value_col).cast("decimal(38,0)").alias("x"),
        F.col(group_col).alias("g"),
    ).groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x") * F.col("x")).alias("qg"),
    )
    s = g.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("stot"),
        F.sum("qg").alias("qtot"),
        F.sum(F.expr("(sg * sg * 1000000) div ng")).alias("t6"),
    )
    t = F.col("t6").cast("double") / 1e6
    ssb = t - (F.col("stot") * F.col("stot")).cast("double") / F.col(
        "n"
    ).cast("double")
    ssw = F.col("qtot").cast("double") - t
    f = (ssb / (F.col("k") - 1).cast("double")) / (
        ssw / (F.col("n") - F.col("k")).cast("double")
    )
    return s.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.floor(f * 1e6).cast("long").alias("f_ppm"),
    )


def levene_bf(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across k groups
    (Levene's test with MEDIAN centers — robust to the heavy tails
    that break the mean-centered original): one-way ANOVA on the
    absolute deviations from each group's median. The "did the rewrite
    change the SPREAD of doc lengths, not just the middle?" check.

    Exactness trick: the group median of an integer column is either
    an integer or a half-integer, so DOUBLED deviations
    ``z2 = |2x - 2*median_g|`` are exact int64 and the whole ANOVA
    runs on them (F is scale-invariant, so F(z2) = F(z)). Medians come
    from one exact ``percentile`` aggregate per group — O(distinct)
    executor memory per group, the same cost class as the count
    aggregate (cluster note: swap in percentile_approx when the value
    domain is unbounded). The O(k) median relation broadcasts back.

    Returns one row: (k, n, f_ppm) — F on the doubled deviations.
    """
    d = df.select(
        F.col(value_col).cast("long").alias("x"),
        F.col(group_col).alias("g"),
    )
    med2 = d.groupBy("g").agg(
        (F.expr("percentile(x, 0.5)") * 2).cast("long").alias("m2")
    )
    z = d.join(F.broadcast(med2), "g").select(
        "g", F.abs(2 * F.col("x") - F.col("m2")).alias("z2")
    )
    return anova_f(z, "z2", "g")


def friedman_test(
    df: DataFrame,
    block_col: str,
    treat_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman rank test for ``k`` related treatments over ``n``
    blocks (Friedman 1937, tie-corrected form): values are SUM-
    aggregated per (block, treatment) cell, each block's cells are
    ranked, and the statistic compares per-treatment rank sums — the
    nonparametric repeated-measures ANOVA (e.g. "does document length
    differ by language, controlling for source?").

    Only COMPLETE blocks (all ``k`` treatments present) enter, per the
    test's definition. Tie-corrected average ranks ride the doubled-
    integer convention (``r2 = 2·rank``, always integral): with
    ``R2_j = Σ_blocks r2`` per treatment,

    ``Q = (k−1)·Σ_j (R2_j − n(k+1))² / (Σ_ij r2² − n·k·(k+1)²)``

    — numerator and denominator are exact DECIMAL(38,0) integers and
    ``q_ppm`` is one truncating division (Spark ``div`` == DuckDB
    ``//``). No float anywhere.

    Scale shape: one hash aggregate to the O(n·k) cell relation; the
    within-block rank window partitions by BLOCK and holds at most
    ``k`` rows per partition (treatments are a handful — the window is
    bounded by the schema, not the data). Everything after is O(n·k)
    and O(k) aggregates.
    """
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(block_col).alias("blk"), F.col(treat_col).alias("trt")
    ).agg(F.sum(F.col(value_col).cast("long")).alias("v"))
    k = cells.select("trt").distinct().count()
    complete = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == k)
        .select("blk")
    )
    cells = cells.join(broadcast(complete), "blk")
    # Tie-corrected average rank within each block, doubled so ties'
    # .5 stays integral: r2 = 2·(#strictly-below) + (#tied) + 1.
    vc = cells.groupBy("blk", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("blk").orderBy("v")
    r2 = vc.select(
        "blk",
        "v",
        (
            2 * (F.sum("cnt").over(w) - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        )
        .cast("decimal(38,0)")
        .alias("r2"),
    )
    ranked = cells.join(r2, ["blk", "v"])
    per_treat = ranked.groupBy("trt").agg(
        F.sum("r2").alias("r2_sum"), F.count(F.lit(1)).alias("n_blocks")
    )
    sums = ranked.agg(
        F.sum(F.col("r2") * F.col("r2")).alias("ssq"),
        (F.count(F.lit(1)) / F.lit(k)).cast("decimal(38,0)").alias("n"),
    )
    s = (
        per_treat.crossJoin(broadcast(sums))
        .agg(
            F.first("n").alias("n"),
            F.sum(
                (F.col("r2_sum") - F.col("n") * F.lit(k + 1))
                * (F.col("r2_sum") - F.col("n") * F.lit(k + 1))
            ).alias("num_sq"),
            F.first("ssq").alias("ssq"),
        )
        .withColumn("k", F.lit(k).cast("decimal(38,0)"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k_treatments"),
        F.expr(
            "CAST(CASE WHEN ssq - n * k * (k+1) * (k+1) = 0 THEN 0"
            " ELSE ((k-1) * num_sq * 1000000)"
            " div (ssq - n * k * (k+1) * (k+1)) END AS BIGINT)"
        ).alias("q_ppm"),
    )


def cohens_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa between two categorical columns (rater agreement
    beyond chance — e.g. a heuristic classifier vs gold labels):
    ``kappa = (p_o − p_e)/(1 − p_e)`` with the chance term from the
    marginal products. Cross-multiplied to exact integers:
    ``kappa_ppm = (N·agree − Σ_k row_k·col_k)·1e6 div
    (N² − Σ_k row_k·col_k)`` — no float anywhere, sign-correct under
    truncating division in both engines.

    Scale shape: one pass for the agreement count and N, one O(cats)
    aggregate per side, a broadcast-sized join of the two marginal
    relations — nothing after the first aggregates depends on the row
    count.
    """
    d = df.select(F.col(col_a).alias("ra"), F.col(col_b).alias("rb"))
    base = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("agree"),
    )
    rows = d.groupBy("ra").agg(F.count(F.lit(1)).alias("n_row"))
    cols = d.groupBy("rb").agg(F.count(F.lit(1)).alias("n_col"))
    pe = (
        rows.join(cols, F.col("ra") == F.col("rb"))
        .agg(
            F.sum(
                F.col("n_row").cast("decimal(38,0)") * F.col("n_col")
            ).alias("pe_num")
        )
        .fillna(0, subset=["pe_num"])
    )
    return base.crossJoin(broadcast(pe)).select(
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((agree * 1000000) div n AS BIGINT)").alias("po_ppm"),
        F.expr("CAST((pe_num * 1000000) div (n * n) AS BIGINT)").alias(
            "pe_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN n * n - pe_num = 0 THEN 0"
            " ELSE ((n * agree - pe_num) * 1000000)"
            " div (n * n - pe_num) END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


def mcc_binary(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Matthews correlation coefficient for a binary classifier — the
    single-number confusion-matrix summary that stays honest under
    class imbalance (unlike accuracy or F1). ``label_col`` /
    ``pred_col`` are boolean-ish expressions.

    The numerator ``TP·TN − FP·FN`` is exact DECIMAL(38,0); the four
    marginal factors take ONE double sqrt each at the very end, floored
    to ppb (the spearman convention). Any zero marginal → MCC defined
    as 0 (the standard convention). One combinable aggregate — scan
    shape, no shuffle beyond the 1-row final.
    """
    d = df.select(
        F.col(label_col).cast("boolean").alias("y"),
        F.col(pred_col).cast("boolean").alias("p"),
    )
    c = d.agg(
        F.sum(F.when(F.col("y") & F.col("p"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tp"),
        F.sum(F.when(~F.col("y") & F.col("p"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("fp"),
        F.sum(F.when(~F.col("y") & ~F.col("p"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tn"),
        F.sum(F.when(F.col("y") & ~F.col("p"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("fn"),
    )
    return c.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("tn").cast("long").alias("tn"),
        F.col("fn").cast("long").alias("fn"),
        F.expr(
            "CAST(CASE WHEN (tp+fp)*(tp+fn) = 0 OR (tn+fp)*(tn+fn) = 0"
            " THEN 0 ELSE floor("
            " CAST(tp*tn - fp*fn AS DOUBLE)"
            " / sqrt(CAST(tp+fp AS DOUBLE)) / sqrt(CAST(tp+fn AS DOUBLE))"
            " / sqrt(CAST(tn+fp AS DOUBLE)) / sqrt(CAST(tn+fn AS DOUBLE))"
            " * 1e9) END AS BIGINT)"
        ).alias("mcc_ppb"),
    )


def theil_u(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Theil's uncertainty coefficient U(x|y) — the asymmetric,
    normalized-MI association measure ("what fraction of x's entropy
    does knowing y remove"), the categorical-EDA sibling of Cramér's V
    that, unlike V, tells you the DIRECTION of predictability.

    ``U = (H(x) − H(x|y)) / H(x)`` with plug-in entropies from the
    O(r·c) contingency relation. Each entropy term is rounded to an
    exact integer at 1e9 scale before summation (the
    term_kl_divergence convention — partition-order deterministic),
    and U lands on the ppm grid via one truncating division.

    Scale shape: one (x, y) count aggregate on the fact; everything
    after runs on the O(r·c) relation with broadcast marginals.
    """
    cells = df.groupBy(
        F.col(x_col).alias("xv"), F.col(y_col).alias("yv")
    ).agg(F.count(F.lit(1)).alias("n_xy"))
    ny = cells.groupBy("yv").agg(F.sum("n_xy").alias("n_y"))
    nx = cells.groupBy("xv").agg(F.sum("n_xy").alias("n_x"))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    hx = (
        nx.crossJoin(broadcast(tot))
        .select(
            F.round(
                F.lit(1.0e9)
                * (F.col("n_x").cast("double") / F.col("n"))
                * F.log(F.col("n").cast("double") / F.col("n_x")),
                0,
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("hx_e9"))
    )
    hxy = (
        cells.join(broadcast(ny), "yv")
        .crossJoin(broadcast(tot))
        .select(
            F.round(
                F.lit(1.0e9)
                * (F.col("n_xy").cast("double") / F.col("n"))
                * F.log(F.col("n_y").cast("double") / F.col("n_xy")),
                0,
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("hxy_e9"))
    )
    return hx.crossJoin(broadcast(hxy)).select(
        F.col("hx_e9").cast("long").alias("hx_e9"),
        F.col("hxy_e9").cast("long").alias("hxy_e9"),
        F.expr(
            "CAST(CASE WHEN hx_e9 = 0 THEN 0"
            " ELSE ((hx_e9 - hxy_e9) * 1000000) div hx_e9 END AS BIGINT)"
        ).alias("u_ppm"),
    )


def cronbach_alpha(df: DataFrame, item_cols: list[str]) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over ``k``
    integer item columns: ``α = k/(k−1) · (1 − Σ var_i / var_total)``
    — the standard "do these features measure the same thing" check
    before collapsing quality sub-scores into one composite.

    Cross-multiplied to exact integers: with ``v_i = n·Σx² − (Σx)²``
    (n²-scaled variances, exact DECIMAL(38,0)) and ``V`` the same for
    the per-row item total, ``α_ppm = k·(V − Σv_i)·1e6 div ((k−1)·V)``
    — one truncating division, no float. One combinable aggregate over
    the fact (all moments in a single scan), then literal arithmetic.
    """
    k = len(item_cols)
    xs = [F.col(c).cast("decimal(38,0)") for c in item_cols]
    total = sum(xs[1:], xs[0])
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for i, x in enumerate(xs):
        aggs += [
            F.sum(x).alias(f"s{i}"),
            F.sum(x * x).alias(f"q{i}"),
        ]
    aggs += [
        F.sum(total).alias("st"),
        F.sum(total * total).alias("qt"),
    ]
    m = df.agg(*aggs)
    vsum = " + ".join(f"(n*q{i} - s{i}*s{i})" for i in range(k))
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k_items"),
        F.expr(
            f"CAST(CASE WHEN n*qt - st*st = 0 THEN 0"
            f" ELSE ({k} * ((n*qt - st*st) - ({vsum})) * 1000000)"
            f" div ({k - 1} * (n*qt - st*st)) END AS BIGINT)"
        ).alias("alpha_ppm"),
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank by score descending, cut
    into ``n_bins`` equal-count bins, and report each prefix's positive
    capture vs the base rate — the campaign-targeting view of a
    classifier ("mail the top 2 deciles, reach 45% of responders"),
    complementing AUC/PR with the operating-point economics.

    The global rank comes from the distributed ranker
    (:func:`~.ranking.global_row_number` — range shuffle + per-
    partition offsets, never a single-partition window); everything
    after runs on the O(n_bins) relation. ``gain_ppm`` and
    ``lift_ppm`` are exact integers via cross-multiplied truncating
    division.

    Returns per bin: (bin, n, n_pos, cum_n, cum_pos, gain_ppm,
    lift_ppm).
    """
    from pyspark.sql import Window

    from .ranking import global_row_number

    d = df.select(
        (-F.col(score_col).cast("long")).alias("_negscore"),
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("int").alias("_y"),
    )
    rn = global_row_number(d, ["_negscore", "_id"], out_col="_rn")
    tot = rn.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_pos"),
    )
    binned = (
        rn.crossJoin(broadcast(tot))
        .select(
            F.expr(f"CAST((_rn - 1) * {n_bins} div _n AS INT)").alias(
                "bin"
            ),
            "_y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_y").cast("long").alias("n_pos"),
        )
    )
    wb = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = binned.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(wb).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wb).cast("long").alias("cum_pos"),
    )
    return cum.crossJoin(broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.expr(
            "CAST(CASE WHEN _pos = 0 THEN 0"
            " ELSE (CAST(cum_pos AS DECIMAL(38,0)) * 1000000) div _pos"
            " END AS BIGINT)"
        ).alias("gain_ppm"),
        # DECIMAL(38,0) cross-products: three chained bigint factors
        # (cum_pos * n * 1e6) overflow int64 past ~1e12 rows.
        F.expr(
            "CAST(CASE WHEN _pos = 0 OR cum_n = 0 THEN 0"
            " ELSE (CAST(cum_pos AS DECIMAL(38,0)) * _n * 1000000)"
            " div (CAST(cum_n AS DECIMAL(38,0)) * _pos)"
            " END AS BIGINT)"
        ).alias("lift_ppm"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error — the one-number summary of the
    reliability diagram (Naeini et al. 2015): ``Σ_b (n_b/N)·|pos_rate_b
    − mean_score_b|``, the metric a quality-classifier gate tracks per
    retrain where the full diagram is the drill-down.

    Defined ON THE PPM-GRIDDED bin statistics of
    :func:`reliability_bins` (rates and mean scores land on exact
    integer grids there), so the ECE itself is one exact integer
    aggregate over O(n_bins) rows — deterministic in any engine, and
    consistent with what the diagram displays.

    Returns one row: (n_bins_used, n, ece_ppm).
    """
    bins = reliability_bins(df, score_col, label_col, n_bins)
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.sum("n_rows").cast("long").alias("n"),
        F.expr(
            "CAST(SUM(CAST(n_rows AS DECIMAL(38,0))"
            " * abs(pos_rate_ppm - mean_score_ppm))"
            " div SUM(CAST(n_rows AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ece_ppm"),
    )


def mantel_haenszel_or(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across strata — the
    confounder-adjusted effect estimate ("is exposure associated with
    outcome once we stratify by source?"), the stratified sibling of
    the chi-squared independence test.

    ``OR_MH = Σ_i (a_i·d_i/n_i) / Σ_i (b_i·c_i/n_i)`` over per-stratum
    2×2 tables. Each stratum's term is rounded to an exact integer at
    1e6 scale before summing (the term_kl convention — the products
    a·d stay under 2^53, so the doubles feeding the rounding are
    exact), and the final ratio is one truncating division onto the
    ppm grid. One (stratum)-grouped aggregate on the fact; everything
    after is O(strata).

    Returns one row: (n_strata, num_e6, den_e6, or_mh_ppm).
    """
    d = df.select(
        F.col(stratum_col).alias("s"),
        F.col(exposure_col).cast("boolean").alias("e"),
        F.col(outcome_col).cast("boolean").alias("o"),
    )
    t = d.groupBy("s").agg(
        F.sum(F.when(F.col("e") & F.col("o"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("e") & ~F.col("o"), 1).otherwise(0)).alias("b"),
        F.sum(F.when(~F.col("e") & F.col("o"), 1).otherwise(0)).alias("c"),
        F.sum(F.when(~F.col("e") & ~F.col("o"), 1).otherwise(0)).alias(
            "d"
        ),
    )
    term_num = F.round(
        F.lit(1e6)
        * (F.col("a") * F.col("d")).cast("double")
        / (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast(
            "double"
        ),
        0,
    ).cast("long")
    term_den = F.round(
        F.lit(1e6)
        * (F.col("b") * F.col("c")).cast("double")
        / (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast(
            "double"
        ),
        0,
    ).cast("long")
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(term_num).cast("long").alias("num_e6"),
        F.sum(term_den).cast("long").alias("den_e6"),
    ).select(
        "n_strata",
        "num_e6",
        "den_e6",
        F.expr(
            "CAST(CASE WHEN den_e6 = 0 THEN 0"
            " ELSE (CAST(num_e6 AS DECIMAL(38,0)) * 1000000) div den_e6"
            " END AS BIGINT)"
        ).alias("or_mh_ppm"),
    )


def logrank_test(
    df: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank test (Mantel–Cox) — "do the two survival
    curves differ", the inferential companion to the Kaplan–Meier
    estimator: at every distinct event time, observed vs expected
    events in group 1 under the shared-hazard null, pooled into one z.

    ``group_col`` must be boolean-ish (group 1 = true). Dataflow: one
    (group, time) count aggregate on the fact — the ONLY pass over the
    input; at-risk counts come from a cumulative window over the
    O(distinct-times) pivoted relation (bounded by the time domain —
    duration days, not rows; the no-PARTITION-BY window is a single
    task over that bounded relation, never over data rows). Per-time
    O−E and variance terms round to exact 1e6 integers BEFORE pooling
    (the term_kl convention, identical fixed-shape formulas in both
    engines), and z finishes with one double sqrt, floor-scaled ppm.

    Returns one row: (n_event_times, o1_total, s_e6, v_e6, z_ppm).
    """
    from pyspark.sql import Window

    d = df.select(
        F.col(time_col).cast("long").alias("t"),
        F.col(event_col).cast("boolean").cast("int").alias("e"),
        F.col(group_col).cast("boolean").cast("int").alias("g"),
    )
    gt = d.groupBy("g", "t").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("e").alias("o"),
    )
    # Pivot the two groups side by side per time (missing side -> 0
    # events / 0 count at that time), then at-risk n_g(t) = count of
    # the group's rows with time >= t = descending cumulative sum —
    # O(times) window work instead of the old O(times²) dense-grid
    # re-aggregate, and the fact relation is consumed exactly once
    # (the old times/groups distincts re-ran the whole upstream).
    pt = gt.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == 1, F.col("o")).otherwise(0)).alias("o1"),
        F.sum(F.when(F.col("g") == 0, F.col("c")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("g") == 0, F.col("o")).otherwise(0)).alias("o0"),
    )
    wcum = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    at = pt.select(
        "t",
        "o1",
        "o0",
        F.sum("c1").over(wcum).alias("n1r"),
        F.sum("c0").over(wcum).alias("n0r"),
        # group-presence totals: the old dense grid inner-joined the
        # two group slices, so a degenerate single-group input yielded
        # ZERO per-time rows — replicate that contract exactly.
        F.sum("c1").over(wall).alias("tot1"),
        F.sum("c0").over(wall).alias("tot0"),
    )
    per_t = (
        at.filter((F.col("tot1") > 0) & (F.col("tot0") > 0))
        .select(
            "t",
            "o1",
            (F.col("o1") + F.col("o0")).alias("ot"),
            F.col("n1r").cast("double").alias("n1"),
            (F.col("n1r") + F.col("n0r")).cast("double").alias("nt"),
        )
        .filter((F.col("ot") > 0) & (F.col("nt") > 1))
    )
    num = F.round(
        F.lit(1e6)
        * (
            F.col("o1").cast("double")
            - F.col("ot").cast("double") * F.col("n1") / F.col("nt")
        ),
        0,
    ).cast("long")
    var = F.round(
        F.lit(1e6)
        * F.col("ot").cast("double")
        * (F.col("n1") / F.col("nt"))
        * (F.lit(1.0) - F.col("n1") / F.col("nt"))
        * (F.col("nt") - F.col("ot").cast("double"))
        / (F.col("nt") - F.lit(1.0)),
        0,
    ).cast("long")
    s = per_t.agg(
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
        F.sum("o1").cast("long").alias("o1_total"),
        F.sum(num).cast("long").alias("s_e6"),
        F.sum(var).cast("long").alias("v_e6"),
    )
    return s.select(
        "n_event_times",
        "o1_total",
        "s_e6",
        "v_e6",
        F.when(F.col("v_e6") <= 0, F.lit(0))
        .otherwise(
            F.floor(
                F.col("s_e6").cast("double")
                * F.lit(1e3)
                / F.sqrt(F.col("v_e6").cast("double"))
            ).cast("long")
        )
        .alias("z_ppm"),
    )


def by_fdr(
    hypotheses: DataFrame,
    id_col: str,
    p_col: str = "p_ppm",
    alpha_ppm: int = 100_000,
) -> DataFrame:
    """Benjamini–Yekutieli FDR step-up — :func:`bh_fdr`'s conservative
    sibling that holds under ARBITRARY dependence between hypotheses
    (Benjamini & Yekutieli 2001): the BH threshold shrinks by the
    harmonic factor ``c(m) = Σ_{j=1..m} 1/j``. The right default when
    per-slice quality checks share data (overlapping shards, nested
    slices) and independence cannot be argued.

    Grid contract: ``c(m)`` lands on the integer 1e9 grid as
    ``Σ (1e9 div j)`` (computed ONCE from the 1-row count relation,
    never per hypothesis), and the step-up comparison cross-multiplies
    in DECIMAL(38,0): ``p·m·c_e9 ≤ rnk·alpha·1e9`` — exact and
    identical in any engine. Same grouped-first O(m)-window shape as
    BH.

    Returns (id, p_ppm, rnk, reject).
    """
    from pyspark.sql import Window

    # The hypothesis relation feeds both the c(m) count aggregate and
    # the ranked window — left lazy, the (often expensive) upstream
    # per-slice aggregation ran twice; the cm broadcast build fills
    # this cache before the ranked job reads it (optimization round
    # 10). bh_fdr/holm derive m from the window itself and need no
    # second pass, but c_e9's harmonic sum must be computed ONCE from
    # a 1-row relation, never per hypothesis.
    h = pin(hypotheses.select(
        F.col(id_col).alias("id"), F.col(p_col).cast("long").alias("p")
    ))
    cm = h.agg(F.count(F.lit(1)).cast("long").alias("m")).select(
        "m",
        F.expr(
            "aggregate(sequence(1, CAST(m AS INT)),"
            " CAST(0 AS BIGINT), (acc, j) -> acc + 1000000000 div j)"
        ).alias("c_e9"),
    )
    w = Window.orderBy(F.col("p"), F.col("id"))
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        h.select("id", "p", F.row_number().over(w).cast("long").alias("rnk"))
        .crossJoin(broadcast(cm))
    )
    crit = F.expr(
        f"CAST(p AS DECIMAL(38,0)) * m * c_e9"
        f" <= CAST(rnk AS DECIMAL(38,0)) * {int(alpha_ppm)} * 1000000000"
    )
    cutoff = F.max(F.when(crit, F.col("rnk")).otherwise(F.lit(0))).over(
        wall
    )
    return ranked.select(
        F.col("id"),
        F.col("p").alias("p_ppm"),
        "rnk",
        (F.col("rnk") <= cutoff).alias("reject"),
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """1-D Wasserstein (earth-mover's) distance between two groups'
    value distributions — the drift metric that, unlike KS, weighs HOW
    FAR mass moved, not just the worst CDF gap: W1 = integral over v of
    |F_a(v) − F_b(v)| dv (exact for empirical distributions as a sum
    over the merged support).

    Grouped-first contract: one map-side-combinable ``groupBy(value)``
    collapses the data to the O(distinct) support relation; the CDF
    cross-difference ``|cum_a·n_b − cum_b·n_a|·(v_next − v)`` is exact
    DECIMAL(38,0) per support point, and the single global window sorts
    O(distinct values), never data rows (the :func:`bh_fdr` /
    :func:`auc_exact` precedent). Quantize continuous doubles first.
    Returns one row: (n_a, n_b, w1_ppm) with w1_ppm = floor(W1 · 1e6)
    in value units.
    """
    from pyspark.sql import Window

    d = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == F.lit(group_a)).alias("is_a"),
    )
    c = d.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    w = Window.orderBy("v")
    cum = c.select(
        "v",
        F.sum("ca").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(38,0)")
        .alias("cuma"),
        F.sum("cb").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(38,0)")
        .alias("cumb"),
        F.lead("v").over(w).alias("v_next"),
    )
    tot = c.agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum("cb").cast("decimal(38,0)").alias("nb"),
    )
    seg = cum.filter(F.col("v_next").isNotNull()).crossJoin(
        F.broadcast(tot)
    )
    s = seg.agg(
        F.sum(
            F.abs(
                F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
            )
            * (F.col("v_next") - F.col("v")).cast("decimal(38,0)")
        ).alias("mass"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        # truncating integer div (Spark `div` == DuckDB `//`), exact
        F.expr("CAST((mass * 1000000) div (na * nb) AS BIGINT)").alias(
            "w1_ppm"
        ),
    )


def effect_sizes(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Standardized effect sizes between two groups — the "is the
    difference MEANINGFUL, not just significant" companion every A/B
    significance test in this module needs at corpus scale (where any
    difference is significant): Cohen's d on the pooled SD, the
    small-sample Hedges' g correction, and the nonparametric Cliff's
    delta.

    One exact integer-moment pass (n, Σv, Σv²) per group gives d and g
    with a single double sqrt at the end (spearman convention).
    Cliff's delta never touches row pairs: the O(distinct) support
    relation's strict-below/strict-above prefix sums give
    Σ_v ca(v)·(#b below − #b above) exactly (DECIMAL 38,0), and the one
    global window sorts O(distinct values) — grouped-first contract.

    Returns one row:
    (n_a, n_b, cohens_d_ppm, hedges_g_ppm, cliffs_delta_ppm).
    """
    from pyspark.sql import Window

    d = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == F.lit(group_a)).alias("is_a"),
    )
    m = d.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("nb"),
        F.sum(F.when(F.col("is_a"), F.col("v")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("sa"),
        F.sum(F.when(~F.col("is_a"), F.col("v")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("sb"),
        F.sum(
            F.when(F.col("is_a"), F.col("v") * F.col("v")).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("ssa"),
        F.sum(
            F.when(~F.col("is_a"), F.col("v") * F.col("v")).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("ssb"),
    )
    # Pooled variance, all-integer until the final doubles:
    # (na-1)·s2a = ssa - sa²/na  →  scale by na·nb to clear fractions.
    mean_diff = (
        F.col("sa").cast("double") / F.col("na").cast("double")
        - F.col("sb").cast("double") / F.col("nb").cast("double")
    )
    pooled_var = (
        (
            F.col("ssa").cast("double")
            - F.col("sa").cast("double")
            * F.col("sa").cast("double")
            / F.col("na").cast("double")
        )
        + (
            F.col("ssb").cast("double")
            - F.col("sb").cast("double")
            * F.col("sb").cast("double")
            / F.col("nb").cast("double")
        )
    ) / (F.col("na") + F.col("nb") - 2).cast("double")
    dd = mean_diff / F.sqrt(pooled_var)
    # Hedges' g: d · (1 − 3/(4(na+nb) − 9)), the Hedges–Olkin
    # small-sample bias correction.
    gg = dd * (
        F.lit(1.0)
        - F.lit(3.0)
        / (F.lit(4.0) * (F.col("na") + F.col("nb")).cast("double") - 9.0)
    )
    moments = m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.floor(dd * 1e6).cast("long").alias("cohens_d_ppm"),
        F.floor(gg * 1e6).cast("long").alias("hedges_g_ppm"),
    )
    # Cliff's delta from the support relation: for each a-value v,
    # #b strictly below v minus #b strictly above v.
    c = d.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = c.agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum("cb").cast("decimal(38,0)").alias("nb"),
    )
    scored = c.select(
        "ca",
        "cb",
        (F.sum("cb").over(w) - F.col("cb"))
        .cast("decimal(38,0)")
        .alias("b_below"),
    ).crossJoin(F.broadcast(tot))
    delta = scored.agg(
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (
                F.col("b_below")
                - (F.col("nb") - F.col("b_below") - F.col("cb"))
            )
        ).alias("net"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    ).select(
        F.expr(
            "CAST((net * 1000000) div (na * nb) AS BIGINT)"
        ).alias("cliffs_delta_ppm")
    )
    return moments.crossJoin(F.broadcast(delta))


def cochran_armitage(
    df: DataFrame,
    dose_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test: is a binary outcome's rate
    monotonically associated with an ORDERED dose (quality decile,
    dedup-cascade stage, shard age)? The chi-squared independence test
    ignores order; this one spends its single degree of freedom on the
    linear trend and is the standard "does quality really decay with
    the knob" check.

    Everything reduces to the O(#doses) contingency relation (one
    map-side-combinable groupBy). With integer dose scores w:
    z = (N·Σwr − R·Σwn) / sqrt(R(N−R)(N·Σw²n − (Σwn)²)/(N−1)) — the
    numerator and the radicand are exact DECIMAL(38,0); one double
    sqrt at the end, ppm floor.

    Returns one row: (n, n_pos, z_ppm).
    """
    doses = df.select(
        F.col(dose_col).cast("long").alias("w"),
        F.col(flag_col).cast("boolean").alias("y"),
    ).groupBy("w").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ni"),
        F.sum(F.when(F.col("y"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ri"),
    )
    s = doses.agg(
        F.sum("ni").alias("n"),
        F.sum("ri").alias("r"),
        F.sum(F.col("w") * F.col("ri")).alias("wr"),
        F.sum(F.col("w") * F.col("ni")).alias("wn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).alias("wwn"),
    )
    num = F.col("n") * F.col("wr") - F.col("r") * F.col("wn")
    rad = (
        F.col("r")
        * (F.col("n") - F.col("r"))
        * (F.col("n") * F.col("wwn") - F.col("wn") * F.col("wn"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_pos"),
        F.floor(
            num.cast("double")
            / F.sqrt(
                rad.cast("double")
                / (F.col("n") - 1).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("z_ppm"),
    )


def mcnemar_test(
    df: DataFrame,
    truth_col: str,
    pred_a_col: str,
    pred_b_col: str,
) -> DataFrame:
    """McNemar's paired test: do two classifiers scored on the SAME
    examples differ in error rate? Accuracy deltas on shared eval sets
    are paired — the information is entirely in the DISCORDANT cells
    (A right & B wrong vs A wrong & B right); the marginal-accuracy
    z-test overstates certainty by ignoring the pairing.

    One conditional-count aggregate pass; the statistic
    (b − c)²/(b + c) is a pure integer ratio on the ppm grid — no
    floats anywhere. Returns one row:
    (n, a_only_correct, b_only_correct, chi2_ppm).
    """
    d = df.select(
        (F.col(pred_a_col) == F.col(truth_col)).alias("oka"),
        (F.col(pred_b_col) == F.col(truth_col)).alias("okb"),
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("oka") & ~F.col("okb"), 1).otherwise(0))
        .cast("long")
        .alias("b10"),
        F.sum(F.when(~F.col("oka") & F.col("okb"), 1).otherwise(0))
        .cast("long")
        .alias("b01"),
    )
    return s.select(
        "n",
        F.col("b10").alias("a_only_correct"),
        F.col("b01").alias("b_only_correct"),
        F.expr(
            "CASE WHEN b10 + b01 = 0 THEN 0 ELSE"
            " ((b10 - b01) * (b10 - b01) * 1000000) div (b10 + b01)"
            " END"
        )
        .cast("long")
        .alias("chi2_ppm"),
    )


def randomization_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    id_col: str,
    n_reps: int = 100,
) -> DataFrame:
    """Randomization (approximate permutation) test for a two-group
    mean difference: pool both groups' values, reassign each row to a
    pseudo-group with the observed marginal probability, and ask how
    often the replicated |mean_a − mean_b| reaches the observed one —
    the distribution-free p-value that needs no variance formula at
    all (Fisher 1935; the Bernoulli-reassignment variant is the
    standard distributed relaxation of the fixed-margin permutation).

    Determinism: assignments come from the engine-portable md5 hash of
    (id, replicate) — ``hash60(id || '_' || r) % n < n_a`` — so Spark
    and the SQL oracle draw IDENTICAL pseudo-samples. Each replicate's
    statistic and the observed one are compared exactly by
    cross-multiplication of integer sums (DECIMAL(38,0) → one double
    div per side on the ppm grid).

    Scale shape: the explode is n_rows × n_reps but collapses through a
    map-side-combinable groupBy(rep) to O(n_reps) rows — partial
    aggregation means the shuffle carries 2·n_reps rows per task, not
    the exploded relation. n_reps is the wall-clock knob.

    Returns one row: (n_a, n_b, obs_diff_ppm, n_exceed, p_ppm).
    """
    from ..functions.hashing import hash60

    d = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(id_col).cast("long").alias("id"),
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == F.lit(group_a)).alias("is_a"),
    )
    tot = d.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("nb"),
        F.sum(F.when(F.col("is_a"), F.col("v")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("sa"),
        F.sum(F.when(~F.col("is_a"), F.col("v")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("sb"),
    )
    reps = (
        d.crossJoin(F.broadcast(tot))
        .withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(int(n_reps) - 1)))
        )
        .withColumn(
            "pseudo_a",
            (
                hash60(F.concat_ws("_", F.col("id"), F.col("rep")))
                % (F.col("na") + F.col("nb")).cast("long")
            )
            < F.col("na").cast("long"),
        )
        .groupBy("rep")
        .agg(
            F.sum(F.when(F.col("pseudo_a"), 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias("nar"),
            F.sum(F.when(~F.col("pseudo_a"), 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias("nbr"),
            F.sum(F.when(F.col("pseudo_a"), F.col("v")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("sar"),
            F.sum(F.when(~F.col("pseudo_a"), F.col("v")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("sbr"),
        )
    )
    # |d_r| >= |d_obs|  ⇔  |sar·nbr − sbr·nar| · (na·nb)
    #                      >= |sa·nb − sb·na| · (nar·nbr)
    # — each side is one exact DECIMAL(38,0) product cast to double
    # (identical integer operands → identical IEEE product/compare in
    # any engine; a 38-digit² product would overflow decimal, so the
    # compare itself runs in double on BOTH sides). A replicate that
    # degenerates to one empty pseudo-group (essentially impossible at
    # any real n) counts as exceeding, the conservative direction.
    scored = reps.crossJoin(F.broadcast(tot)).select(
        F.when(
            (F.col("nar") == 0) | (F.col("nbr") == 0), F.lit(True)
        )
        .otherwise(
            F.abs(
                F.col("sar") * F.col("nbr") - F.col("sbr") * F.col("nar")
            )
            .cast("double")
            * (F.col("na") * F.col("nb")).cast("double")
            >= F.abs(
                F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
            )
            .cast("double")
            * (F.col("nar") * F.col("nbr")).cast("double")
        )
        .alias("exceed")
    )
    exceed = scored.agg(
        F.sum(F.when(F.col("exceed"), 1).otherwise(0))
        .cast("long")
        .alias("n_exceed")
    )
    return (
        tot.crossJoin(F.broadcast(exceed))
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.floor(
                (
                    F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
                ).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
                * 1e6
            )
            .cast("long")
            .alias("obs_diff_ppm"),
            "n_exceed",
            F.expr(
                "CAST(((n_exceed + 1) * 1000000) div"
                f" {int(n_reps) + 1} AS BIGINT)"
            ).alias("p_ppm"),
        )
    )


def dp_noisy_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    clip_lo: int,
    clip_hi: int,
    epsilon: float = 1.0,
) -> DataFrame:
    """Differential-privacy mean release per group: clip values to
    [clip_lo, clip_hi] (bounding each row's sensitivity), release a
    Laplace-noised SUM (sensitivity = clip_hi − clip_lo, eps/2) and a
    Laplace-noised COUNT (sensitivity 1, eps/2), and post-process their
    ratio — the standard budget-split mean mechanism (Dwork & Roth
    2014, Alg. 2.3).

    Same DETERMINISM CAVEAT as :func:`dp_noisy_counts` (noise is
    hash-derived so the release is testable, NOT actually private —
    swap in a true RNG for production); same dyadic-rational uniform so
    the inverse CDF's input is exact in both engines, libm ``ln``
    wobble absorbed by the 1e-6 grid. One clipped conditional-sum
    aggregate; noise is a scalar expression over O(groups) rows.

    Returns (group..., n, noisy_mean_ppm).
    """
    from ..functions.hashing import hash60

    c_lo, c_hi = int(clip_lo), int(clip_hi)
    clipped = F.least(
        F.greatest(F.col(value_col).cast("long"), F.lit(c_lo)),
        F.lit(c_hi),
    )
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(clipped).cast("decimal(38,0)").alias("s"),
    )

    def lap_e6(salt: str, scale: float) -> Column:
        key = F.concat_ws(
            "|",
            F.lit(salt),
            *[F.col(c).cast("string") for c in group_cols],
        )
        h = hash60(key) % F.lit(1048576)
        num = (h * 2 + 1) - F.lit(1048576)
        arg = (F.lit(1048576) - F.abs(num)) / F.lit(1048576.0)
        return F.floor(
            F.signum(num.cast("double"))
            * -F.log(arg)
            * F.lit(float(scale))
            * F.lit(1e6)
        ).cast("long")

    sens = float(c_hi - c_lo)
    noisy_sum_e6 = F.col("s") * F.lit(1_000_000) + lap_e6(
        "sum", sens / (epsilon / 2.0)
    )
    noisy_cnt_e6 = F.col("n") * F.lit(1_000_000) + lap_e6(
        "cnt", 1.0 / (epsilon / 2.0)
    )
    return agg.select(
        *group_cols,
        "n",
        F.floor(
            noisy_sum_e6.cast("double")
            / F.greatest(noisy_cnt_e6, F.lit(1)).cast("double")
            * 1e6
        )
        .cast("long")
        .alias("noisy_mean_ppm"),
    )


def holm_bonferroni(
    hypotheses: DataFrame,
    id_col: str,
    p_col: str = "p_ppm",
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Holm–Bonferroni step-DOWN multiple-testing control — the
    family-wise-error-rate companion to :func:`bh_fdr`'s FDR step-up:
    walk the p-sorted list from the smallest, reject while
    ``p_(i) <= alpha / (m − i + 1)``, and STOP at the first failure
    (everything after it is retained, even if individually small) —
    uniformly more powerful than plain Bonferroni with the same FWER
    guarantee (Holm, Scand. J. Statist. 1979).

    All-integer step-down: ``p_ppm · (m − rnk + 1) <= alpha_ppm`` per
    rank, the stop rank is a min over failures, both over the O(m)
    hypothesis relation (grouped-first contract — the windows sort m
    tests, never data rows).

    Returns (id, p_ppm, rnk, reject).
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col("p"), F.col("id"))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = hypotheses.select(
        F.col(id_col).alias("id"), F.col(p_col).cast("long").alias("p")
    ).select(
        "id",
        "p",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    fails = F.col("p") * (F.col("m") - F.col("rnk") + 1) > F.lit(
        int(alpha_ppm)
    )
    stop = F.min(F.when(fails, F.col("rnk"))).over(wall)
    return ranked.select(
        "id",
        F.col("p").alias("p_ppm"),
        "rnk",
        F.when(stop.isNull(), F.lit(True))
        .otherwise(F.col("rnk") < stop)
        .alias("reject"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Isotonic-regression calibration (pool-adjacent-violators fit) of
    a binary label rate as a NON-DECREASING function of a score — the
    standard nonparametric classifier calibrator (Zadrozny & Elkan,
    KDD 2002) next to :func:`reliability_bins`' fixed-width diagnostic:
    the PAV fit is the unique monotone step function minimizing squared
    error against the empirical rates.

    Spark-first shape: PAV is usually presented as a sequential pooling
    loop, but the fit has a closed MINIMAX form —
    ``iso(i) = max_{j<=i} min_{k>=i} mean(y[j..k])`` (Robertson, Wright
    & Dykstra 1988, Thm 1.4.4) — which is two window passes over the
    O(levels²) interval relation: a suffix-min over k per start level j
    (running min on the DESC sort), then a prefix-max over j per level
    i. Nothing sequential, no driver loop; the quantized-score contract
    (the AUC/reliability precondition) bounds levels, so the interval
    relation is tiny however big the data. Interval means are doubles
    built from exact integer prefix sums (identical IEEE both engines);
    the fit lands on the ppm floor grid.

    Returns one row per distinct score level:
    (score, n, n_pos, fit_ppm) with fit_ppm non-decreasing in score.
    """
    from pyspark.sql import Window

    levels = (
        df.select(
            F.col(score_col).cast("long").alias("score"),
            F.col(label_col).cast("int").alias("y"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("y").cast("long").alias("s"),
        )
    )
    wcum = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pre = levels.select(
        "score",
        "c",
        "s",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("s").over(wcum).alias("cs"),
    )
    j = pre.select(
        F.col("score").alias("j"),
        (F.col("cc") - F.col("c")).alias("cc_before"),
        (F.col("cs") - F.col("s")).alias("cs_before"),
    )
    k = pre.select(
        F.col("score").alias("k"),
        F.col("cc").alias("cc_k"),
        F.col("cs").alias("cs_k"),
    )
    # O(levels²) interval relation: mean(y[j..k]) for every j <= k.
    iv = j.join(k, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cs_k") - F.col("cs_before")).cast("double")
            / (F.col("cc_k") - F.col("cc_before")).cast("double")
        ).alias("avg"),
    )
    # suffix-min over k for each (j, i >= j): running min on DESC k.
    wmin = Window.partitionBy("j").orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    m = iv.select(
        "j",
        F.col("k").alias("i"),
        F.min("avg").over(wmin).alias("mn"),
    )
    # prefix-max over j for each i; the fit is the j = i row's value.
    wmax = Window.partitionBy("i").orderBy("j").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fit = (
        m.select("i", "j", F.max("mn").over(wmax).alias("mx"))
        .filter(F.col("j") == F.col("i"))
        .select(F.col("i").alias("score"), F.col("mx").alias("iso"))
    )
    return (
        levels.join(fit, "score")
        .select(
            "score",
            F.col("c").alias("n"),
            F.col("s").alias("n_pos"),
            F.floor(F.col("iso") * 1e6).cast("long").alias("fit_ppm"),
        )
    )


def auc_delong_ci(
    df: DataFrame,
    score_col: str,
    label_col: str,
    z_e6: int = 1_959_964,
) -> DataFrame:
    """Exact ROC-AUC with its DeLong confidence interval — the number
    :func:`auc_exact` reports plus the uncertainty every model-gating
    decision actually needs (DeLong, DeLong & Clarke-Pearson,
    Biometrics 1988: the AUC is a two-sample U-statistic; its variance
    comes from the per-observation placement values).

    Grouped-first: placements are CONSTANT within a distinct-score
    group, so both placement variances collapse to moments over the
    O(distinct-scores) relation — doubled-integer placements
    a_g = 2·neg_below + neg_tied (positives) and
    b_g = 2·pos_above + pos_tied (negatives) keep everything exact
    DECIMAL(38,0) through the second moments:

        S10 = [Σ npos_g·a_g² − A²/n_pos] / ((2·n_neg)²·(n_pos−1))
        S01 = [Σ nneg_g·b_g² − B²/n_neg] / ((2·n_pos)²·(n_neg−1))
        se  = sqrt(S10/n_pos + S01/n_neg)

    with A = Σ npos_g·a_g (the doubled AUC numerator). One double sqrt
    at the end; AUC/se/CI on the ppm floor grid, CI clamped to [0, 1].
    Same quantized-score contract as auc_exact.

    Returns one row: (n_pos, n_neg, auc_ppm, se_ppm, lo_ppm, hi_ppm).
    """
    from pyspark.sql import Window

    is_pos = F.col(label_col).cast("boolean")
    g = df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("npos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).cast("long").alias("nneg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "score",
        "npos",
        "nneg",
        F.coalesce(F.sum("nneg").over(w), F.lit(0)).alias("cneg"),
        F.coalesce(F.sum("npos").over(w), F.lit(0)).alias("cpos"),
    )
    # b_g needs the GLOBAL positive total inside the row expression, so
    # compute totals first and join them back (single-row broadcast)
    # before the moment pass.
    tot = c.agg(
        F.sum("npos").cast("decimal(38,0)").alias("np"),
        F.sum("nneg").cast("decimal(38,0)").alias("nn"),
    )
    withb = c.crossJoin(F.broadcast(tot)).select(
        F.col("np"),
        F.col("nn"),
        F.col("npos").cast("decimal(38,0)").alias("nposd"),
        F.col("nneg").cast("decimal(38,0)").alias("nnegd"),
        (2 * F.col("cneg") + F.col("nneg"))
        .cast("decimal(38,0)")
        .alias("a"),
        (
            F.lit(2) * (F.col("np") - F.col("cpos") - F.col("npos"))
            + F.col("npos")
        )
        .cast("decimal(38,0)")
        .alias("b"),
    )
    s = withb.agg(
        F.first("np").alias("np"),
        F.first("nn").alias("nn"),
        F.sum(F.col("nposd") * F.col("a")).alias("a1"),
        F.sum(F.col("nposd") * F.col("a") * F.col("a")).alias("a2"),
        F.sum(F.col("nnegd") * F.col("b")).alias("b1"),
        F.sum(F.col("nnegd") * F.col("b") * F.col("b")).alias("b2"),
    )
    auc = F.col("a1").cast("double") / (
        2.0 * F.col("np").cast("double") * F.col("nn").cast("double")
    )
    s10 = (
        (
            F.col("a2").cast("double")
            - F.col("a1").cast("double")
            * F.col("a1").cast("double")
            / F.col("np").cast("double")
        )
        / (
            (2.0 * F.col("nn").cast("double"))
            * (2.0 * F.col("nn").cast("double"))
            * (F.col("np").cast("double") - 1.0)
        )
    )
    s01 = (
        (
            F.col("b2").cast("double")
            - F.col("b1").cast("double")
            * F.col("b1").cast("double")
            / F.col("nn").cast("double")
        )
        / (
            (2.0 * F.col("np").cast("double"))
            * (2.0 * F.col("np").cast("double"))
            * (F.col("nn").cast("double") - 1.0)
        )
    )
    se = F.sqrt(
        s10 / F.col("np").cast("double") + s01 / F.col("nn").cast("double")
    )
    zz = float(z_e6) / 1e6
    return s.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.floor(auc * 1e6).cast("long").alias("auc_ppm"),
        F.floor(se * 1e6).cast("long").alias("se_ppm"),
        F.greatest(
            F.floor((auc - F.lit(zz) * se) * 1e6).cast("long"), F.lit(0)
        ).alias("lo_ppm"),
        F.least(
            F.floor((auc + F.lit(zz) * se) * 1e6).cast("long"),
            F.lit(1_000_000),
        ).alias("hi_ppm"),
    )


def diff_in_diff(
    df: DataFrame,
    arm_col: str,
    period_col: str,
    value_col: str,
    value_scale: int = 100,
) -> DataFrame:
    """Difference-in-differences estimator: the causal-inference
    workhorse for "we shipped the change to group T at time t" —
    DiD = (T_post − T_pre) − (C_post − C_pre) nets out both the stable
    group difference and the common time trend, with the standard
    four-cell pooled z (Card & Krueger 1994 shape). The CUPED operator
    here reduces variance within one experiment; DiD is what you use
    when assignment wasn't randomized.

    One combinable aggregate to the FOUR (arm × period) cells over
    unit-level values on the ``floor(v·scale)`` grid — exact
    DECIMAL(38,0) sums/squares, cell means and the pooled SE in double
    at the end (identical IEEE both engines), ppm floor.

    Returns one row: (n, did_ppm, se_ppm, z_ppm).
    """
    cells = (
        df.select(
            F.col(arm_col).cast("int").alias("arm"),
            F.col(period_col).cast("int").alias("post"),
            F.floor(
                F.col(value_col).cast("double") * F.lit(int(value_scale))
            )
            .cast("decimal(38,0)")
            .alias("v"),
        )
        .groupBy("arm", "post")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ss"),
        )
    )
    # pivot the 4 cells into one row via conditional firsts
    pick = lambda a, p, c: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("post") == p), F.col(c))
    )
    one = cells.agg(
        *[
            pick(a, p, c).alias(f"{c}{a}{p}")
            for a in (0, 1)
            for p in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )
    mean = lambda a, p: F.col(f"s{a}{p}").cast("double") / F.col(  # noqa: E731
        f"n{a}{p}"
    ).cast("double")
    # per-cell sample variance of the mean: (ss − s²/n) / (n−1) / n
    varm = lambda a, p: (  # noqa: E731
        (
            F.col(f"ss{a}{p}").cast("double")
            - F.col(f"s{a}{p}").cast("double")
            * F.col(f"s{a}{p}").cast("double")
            / F.col(f"n{a}{p}").cast("double")
        )
        / (F.col(f"n{a}{p}").cast("double") - 1.0)
        / F.col(f"n{a}{p}").cast("double")
    )
    did = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    se = F.sqrt(varm(1, 1) + varm(1, 0) + varm(0, 1) + varm(0, 0))
    return one.select(
        (
            F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11")
        )
        .cast("long")
        .alias("n"),
        F.floor(did * 1e6).cast("long").alias("did_ppm"),
        F.floor(se * 1e6).cast("long").alias("se_ppm"),
        F.floor(did / se * 1e6).cast("long").alias("z_ppm"),
    )


def sprt_monitor(
    df: DataFrame,
    ts_col: str,
    success_col: str,
    p0_ppm: int,
    p1_ppm: int,
    alpha_ppm: int = 50_000,
    beta_ppm: int = 100_000,
) -> DataFrame:
    """Sequential probability-ratio test (Wald 1945) monitor for a
    Bernoulli rate: the always-on A/B readout that may stop the
    experiment EARLY the moment the evidence crosses a boundary —
    unlike the fixed-horizon z-test, peeking daily at an SPRT costs no
    extra false positives. H0: p = p0 vs H1: p = p1; log-likelihood
    ratio after (N trials, K successes) is K·ln(p1/p0) +
    (N−K)·ln((1−p1)/(1−p0)); reject H0 at ln((1−β)/α), accept at
    ln(β/(1−α)).

    All-integer dataflow: the two per-observation log increments and
    the two boundaries are python-computed constants floored to the
    1e-6 grid (the ONLY floats — no libm call varies per row or per
    engine), so the daily LLR walk is exact int64 over the O(days)
    relation (one combinable daily aggregate + one ordered window).

    Returns per day: (day, n_cum, k_cum, llr_e6, decision) with
    decision in {'reject_h0', 'accept_h0', 'continue'}.
    """
    import math

    from pyspark.sql import Window

    p0, p1 = p0_ppm / 1e6, p1_ppm / 1e6
    alpha, beta = alpha_ppm / 1e6, beta_ppm / 1e6
    c1 = math.floor(math.log(p1 / p0) * 1e6)
    c0 = math.floor(math.log((1 - p1) / (1 - p0)) * 1e6)
    upper = math.floor(math.log((1 - beta) / alpha) * 1e6)
    lower = math.floor(math.log(beta / (1 - alpha)) * 1e6)
    daily = (
        df.select(
            F.to_date(F.date_trunc("DAY", F.col(ts_col))).alias("day"),
            F.col(success_col).cast("int").alias("y"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("kk"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n").over(w).alias("n_cum"),
        F.sum("kk").over(w).alias("k_cum"),
    )
    llr = (
        F.col("k_cum") * F.lit(c1)
        + (F.col("n_cum") - F.col("k_cum")) * F.lit(c0)
    ).alias("llr_e6")
    return cum.select(
        "day",
        "n_cum",
        "k_cum",
        llr,
        F.when(
            F.col("k_cum") * F.lit(c1)
            + (F.col("n_cum") - F.col("k_cum")) * F.lit(c0)
            >= F.lit(upper),
            F.lit("reject_h0"),
        )
        .when(
            F.col("k_cum") * F.lit(c1)
            + (F.col("n_cum") - F.col("k_cum")) * F.lit(c0)
            <= F.lit(lower),
            F.lit("accept_h0"),
        )
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def best_f1_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Optimal decision threshold by F1 sweep: evaluate "predict
    positive when score >= t" at EVERY distinct score t in one pass
    and return the argmax-F1 threshold with its confusion counts — the
    deploy-time knob :func:`pr_curve` plots but doesn't pick.

    Grouped-first (the auc_exact shape): one combinable
    ``groupBy(score)`` to the O(distinct-scores) relation; suffix sums
    (running totals on the DESC score order) give TP/FP at every
    threshold simultaneously; F1 comparisons are cross-multiplied
    exact integers — 2TP/(2TP+FP+FN) compared WITHOUT division, ties
    broken to the higher (stricter) threshold. Quantize continuous
    scores first (the house contract).

    Returns one row:
    (threshold, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm).
    """
    from pyspark.sql import Window

    is_pos = F.col(label_col).cast("boolean")
    g = df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("npos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).cast("long").alias("nneg"),
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "score",
        F.sum("npos").over(wdesc).alias("tp"),
        F.sum("nneg").over(wdesc).alias("fp"),
        (F.sum("npos").over(wall) - F.sum("npos").over(wdesc)).alias(
            "fn"
        ),
    )
    # F1 = 2tp / (2tp + fp + fn); pick argmax by cross-multiplied
    # integer compare: rank by 2tp * (2tp' + fp' + fn') — implemented
    # as a window over the O(distinct) relation ordering by the exact
    # rational via (2tp, 2tp+fp+fn) cross comparison. Spark can't
    # order by a rational directly, so order by the double ratio and
    # break exact ties toward the HIGHER threshold; the double is a
    # ratio of exact int64s (identical IEEE both engines).
    ranked = c.withColumn(
        "f1d",
        (2 * F.col("tp")).cast("double")
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("f1d").desc(), F.col("score").desc())
        ),
    )
    best = ranked.filter(F.col("rn") == 1)
    return best.select(
        F.col("score").cast("long").alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "CASE WHEN tp + fp = 0 THEN 0"
            " ELSE CAST((tp * 1000000) div (tp + fp) AS BIGINT) END"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN tp + fn = 0 THEN 0"
            " ELSE CAST((tp * 1000000) div (tp + fn) AS BIGINT) END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN 2 * tp + fp + fn = 0 THEN 0"
            " ELSE CAST((2 * tp * 1000000) div (2 * tp + fp + fn)"
            " AS BIGINT) END"
        ).alias("f1_ppm"),
    )


def conformal_interval(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    alpha_ppm: int = 100_000,
    value_scale: int = 100,
    salt: str = "conformal",
) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al.; Lei et al.
    2018): hash-split the data into a fit half and a calibration half,
    predict each row by its group's fit-half mean, take the
    ceil((n_cal+1)(1−α))-th smallest absolute calibration residual as
    the interval half-width q̂, and report the EMPIRICAL coverage of
    ``prediction ± q̂`` on the calibration complement — the
    distribution-free "how wrong can this model be" guarantee that
    needs no normality and no variance formula.

    All-exact: the split is the engine-portable md5 parity of the row
    key; predictions are truncating-div means of exact integer sums on
    the value grid; the conformal quantile is an order statistic over
    the O(cal-rows... grouped to O(distinct-residuals)) relation via
    prefix sums — never a global row sort; coverage is a pure-integer
    ppm ratio.

    Returns one row:
    (n_fit, n_cal, n_test, qhat, coverage_ppm, target_ppm).
    """
    from pyspark.sql import Window

    from ..functions.hashing import hash60

    base = pin(df.select(
        F.col(key_col).alias("id"),
        F.col(group_col).alias("g"),
        F.floor(
            F.col(value_col).cast("double") * F.lit(int(value_scale))
        )
        .cast("long")
        .alias("v"),
        (
            hash60(
                F.concat(F.lit(salt), F.col(key_col).cast("string"))
            )
            % 3
        ).alias("part"),  # 0 = fit, 1 = calibration, 2 = test
    ))
    # base is consumed by all three split halves and means by two of
    # them — left lazy each branch re-ran the fact scan + hash split
    # (before plan: 10 scans). The qhat broadcast build materializes
    # both caches before the final job (optimization round 10).
    fit = base.filter(F.col("part") == 0)
    means = pin(fit.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("nf"),
        F.sum("v").cast("decimal(38,0)").alias("sf"),
    ).select(
        "g", "nf", F.expr("CAST(sf div nf AS BIGINT)").alias("pred")
    ))
    cal = base.filter(F.col("part") == 1).join(means, "g").select(
        F.abs(F.col("v") - F.col("pred")).alias("resid")
    )
    # conformal rank over the grouped residual relation via prefix sums
    rc = cal.groupBy("resid").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("resid").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = rc.select(
        "resid",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wall).alias("n_cal"),
    )
    # rank_needed = ceil((n_cal + 1) * (1 - alpha)); qhat = smallest
    # residual whose cumulative count reaches it (clamped to max).
    # ceil-div with truncating div: ceil(A/B) = (A + B - 1) div B
    need = F.expr(
        f"CAST(((CAST(n_cal AS BIGINT) + 1)"
        f" * (1000000 - {int(alpha_ppm)}) + 999999)"
        f" div 1000000 AS BIGINT)"
    )
    qrel = (
        cum.withColumn("need", F.least(need, F.col("n_cal")))
        .filter(F.col("cum") >= F.col("need"))
        .orderBy("resid")
        .limit(1)
        .select(F.col("resid").alias("qhat"), "n_cal")
    )
    test = base.filter(F.col("part") == 2).join(means, "g")
    cov = test.crossJoin(F.broadcast(qrel)).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when(
                F.abs(F.col("v") - F.col("pred")) <= F.col("qhat"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_in"),
        F.first("qhat").alias("qhat"),
        F.first("n_cal").alias("n_cal"),
    )
    nfit = fit.agg(F.count(F.lit(1)).cast("long").alias("n_fit"))
    return cov.crossJoin(F.broadcast(nfit)).select(
        "n_fit",
        "n_cal",
        "n_test",
        "qhat",
        F.expr(
            "CAST((n_in * 1000000) div n_test AS BIGINT)"
        ).alias("coverage_ppm"),
        F.lit(1_000_000 - int(alpha_ppm)).cast("long").alias(
            "target_ppm"
        ),
    )


def ucb_ranking(
    df: DataFrame,
    arm_col: str,
    reward_col: str,
    reward_scale: int = 100,
) -> DataFrame:
    """UCB1 bandit ranking (Auer, Cesa-Bianchi & Fischer 2002): score
    every arm by mean reward + sqrt(2·ln N / n_i) and rank — the
    optimism-under-uncertainty readout that tells a data-mixing or
    experiment-routing loop WHICH arm to pull next, trading off
    observed mean against how little an arm has been tried.

    One combinable aggregate to the O(arms) relation; the mean is an
    exact truncating-div on the reward grid, the exploration bonus is
    one ln + one sqrt per ARM (not per row) floored to the ppm grid,
    and the rank is a window over O(arms) rows with ties broken by
    arm for engine determinism.

    Returns (arm, n, mean_e2, ucb_e2, rank) ordered by rank.
    """
    from pyspark.sql import Window

    arms = df.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.floor(
                F.col(reward_col).cast("double")
                * F.lit(int(reward_scale))
            ).cast("long")
        )
        .cast("decimal(38,0)")
        .alias("s"),
    )
    tot = arms.agg(F.sum("n").cast("long").alias("nn"))
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.expr("CAST(s div n AS BIGINT)").alias("mean_e2"),
        (
            F.expr("CAST(s div n AS BIGINT)")
            + F.floor(
                F.sqrt(
                    F.lit(2.0)
                    * F.log(F.col("nn").cast("double"))
                    / F.col("n").cast("double")
                )
                * F.lit(float(reward_scale))
            ).cast("long")
        ).alias("ucb_e2"),
    )
    w = Window.orderBy(F.col("ucb_e2").desc(), F.col("arm"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).orderBy("rank")


def mde_power(
    df: DataFrame,
    arm_col: str,
    value_col: str,
    value_scale: int = 100,
    z_alpha_e6: int = 1_959_964,
    z_beta_e6: int = 841_621,
) -> DataFrame:
    """A/B power analysis from observed data: the minimum detectable
    effect (MDE) at the given alpha/power for a two-arm mean test —
    MDE = (z_{α/2} + z_β)·sqrt(s²_a/n_a + s²_b/n_b) — plus the sample
    size per arm needed to detect a 1%-of-mean effect; the "is this
    experiment even worth running" planner, computed from the pooled
    pilot in one pass (defaults: alpha 5% two-sided, power 80%).

    One combinable aggregate to the two-arm moment relation; exact
    DECIMAL(38,0) sums, the variance/sqrt in double at the end with
    the two normal quantiles as fixed 1e-6-grid constants (no
    per-row libm).

    Returns one row:
    (n_a, n_b, mean_a_e2, mean_b_e2, mde_e2, n_per_arm_1pct).
    """
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(int(value_scale))
    ).cast("decimal(38,0)")
    # aggregate per arm, then pivot the two arms into one row
    arms = df.select(F.col(arm_col).alias("arm"), v.alias("v")).groupBy(
        "arm"
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    one = arms.agg(
        F.min("arm").alias("arm_a"),
        F.max("arm").alias("arm_b"),
    )
    j = arms.crossJoin(F.broadcast(one))
    a = j.filter(F.col("arm") == F.col("arm_a")).select(
        F.col("n").alias("na"), F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    b = j.filter(F.col("arm") == F.col("arm_b")).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
    )
    m = a.crossJoin(F.broadcast(b))
    var_a = (
        F.col("ssa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double")
        / F.col("na").cast("double")
    ) / (F.col("na").cast("double") - 1.0)
    var_b = (
        F.col("ssb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double")
        / F.col("nb").cast("double")
    ) / (F.col("nb").cast("double") - 1.0)
    zz = (float(z_alpha_e6) + float(z_beta_e6)) / 1e6
    mde = F.lit(zz) * F.sqrt(
        var_a / F.col("na").cast("double")
        + var_b / F.col("nb").cast("double")
    )
    # n per arm to detect 1% of the pooled mean with equal variances:
    # n = 2·(z_a+z_b)²·s²_pool / delta²
    mean_pool = (F.col("sa") + F.col("sb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    var_pool = (var_a + var_b) / F.lit(2.0)
    delta = mean_pool * F.lit(0.01)
    n_needed = (
        F.lit(2.0) * F.lit(zz) * F.lit(zz) * var_pool / (delta * delta)
    )
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr("CAST(sa div na AS BIGINT)").alias("mean_a_e2"),
        F.expr("CAST(sb div nb AS BIGINT)").alias("mean_b_e2"),
        F.floor(mde).cast("long").alias("mde_e2"),
        F.ceil(n_needed).cast("long").alias("n_per_arm_1pct"),
    )


def two_proportion_z(
    df: DataFrame,
    arm_col: str,
    flag_col: str,
) -> DataFrame:
    """Two-proportion z-test — the plainest A/B readout there is
    (conversion rate arm A vs arm B, pooled-variance z): the test
    :func:`wilson_ctr` (one-arm CI) and :func:`abtest_srm`
    (allocation check) bracket but don't perform.

    One conditional-count aggregate to the 2-cell relation; the z is
    computed from exact integer counts with one double sqrt
    (z = (p̂_a − p̂_b)/sqrt(p̂(1−p̂)(1/n_a+1/n_b)), every ratio a
    division of exact int64s), ppm floor.

    Returns one row: (n_a, n_b, k_a, k_b, diff_ppm, z_ppm).
    """
    cells = df.select(
        F.col(arm_col).alias("arm"),
        F.col(flag_col).cast("boolean").alias("y"),
    ).groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("k"),
    )
    one = cells.agg(F.min("arm").alias("a0"), F.max("arm").alias("a1"))
    j = cells.crossJoin(F.broadcast(one))
    a = j.filter(F.col("arm") == F.col("a0")).select(
        F.col("n").alias("na"), F.col("k").alias("ka")
    )
    b = j.filter(F.col("arm") == F.col("a1")).select(
        F.col("n").alias("nb"), F.col("k").alias("kb")
    )
    m = a.crossJoin(F.broadcast(b))
    pa = F.col("ka").cast("double") / F.col("na").cast("double")
    pb = F.col("kb").cast("double") / F.col("nb").cast("double")
    pp = (F.col("ka") + F.col("kb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("na").cast("double")
            + F.lit(1.0) / F.col("nb").cast("double")
        )
    )
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("ka").cast("long").alias("k_a"),
        F.col("kb").cast("long").alias("k_b"),
        F.floor((pa - pb) * 1e6).cast("long").alias("diff_ppm"),
        F.floor(z * 1e6).cast("long").alias("z_ppm"),
    )


def best_gini_split(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Decision-stump split finder: the threshold t minimizing the
    weighted Gini impurity of "score >= t" vs "score < t" against a
    binary label — the single most-informative cut, i.e. the root
    split a tree learner would make, and the quantitative "is this
    feature worth anything" probe next to :func:`best_f1_threshold`'s
    deploy-knob question.

    Grouped-first (the auc_exact shape): one combinable groupBy(score)
    to the O(distinct) relation; suffix sums give the left/right
    (pos, neg) composition at every threshold in one pass. The
    weighted impurity
    N·G(t) = (lp·ln − lp² − ln²... ) reduces to
    2·[lp·lneg/(lp+lneg) + rp·rneg/(rp+rneg)], compared across
    thresholds as a double built from exact int64s (identical IEEE
    both engines), ties to the higher threshold.

    Returns one row: (threshold, left_pos, left_neg, right_pos,
    right_neg, gini_e6).
    """
    from pyspark.sql import Window

    is_pos = F.col(label_col).cast("boolean")
    g = df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("npos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).cast("long").alias("nneg"),
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "score",
        F.sum("npos").over(wdesc).alias("lp"),   # "left" = score >= t
        F.sum("nneg").over(wdesc).alias("ln"),
        (F.sum("npos").over(wall) - F.sum("npos").over(wdesc)).alias(
            "rp"
        ),
        (F.sum("nneg").over(wall) - F.sum("nneg").over(wdesc)).alias(
            "rn"
        ),
    )
    gini = (
        F.lit(2.0)
        * (
            F.when(
                F.col("lp") + F.col("ln") > 0,
                F.col("lp").cast("double")
                * F.col("ln").cast("double")
                / (F.col("lp") + F.col("ln")).cast("double"),
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("rp") + F.col("rn") > 0,
                F.col("rp").cast("double")
                * F.col("rn").cast("double")
                / (F.col("rp") + F.col("rn")).cast("double"),
            ).otherwise(F.lit(0.0))
        )
    )
    ranked = c.withColumn("gw", gini).withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("gw").asc(), F.col("score").desc())
        ),
    )
    return (
        ranked.filter(F.col("rnk") == 1)
        .select(
            F.col("score").cast("long").alias("threshold"),
            F.col("lp").cast("long").alias("left_pos"),
            F.col("ln").cast("long").alias("left_neg"),
            F.col("rp").cast("long").alias("right_pos"),
            F.col("rn").cast("long").alias("right_neg"),
            F.floor(F.col("gw") * 1e6).cast("long").alias("gini_e6"),
        )
    )


def relative_risk(
    df: DataFrame,
    exposed_col: str,
    outcome_col: str,
    z_e6: int = 1_959_964,
) -> DataFrame:
    """2×2 relative risk and odds ratio with log-scale 95% CIs — the
    epidemiology/A-B effect report for binary exposure × binary
    outcome (:func:`mantel_haenszel_or` pools these across strata;
    this is the single-table base case every incident review starts
    from): RR = (a/(a+b))/(c/(c+d)), OR = ad/bc, with Wald CIs on the
    ln scale (se_lnRR = sqrt(1/a − 1/(a+b) + 1/c − 1/(c+d)),
    se_lnOR = sqrt(1/a + 1/b + 1/c + 1/d)).

    One conditional-count pass to the four exact int64 cells; the
    point estimates are cross-multiplied integer ratios on the ppm
    truncating-div grid, and only the CIs touch libm (exp/ln of
    exact-integer-derived doubles, identical both engines, ppm floor).

    Returns one row: (a, b, c, d, rr_ppm, or_ppm, rr_lo_ppm,
    rr_hi_ppm, or_lo_ppm, or_hi_ppm) — CI columns NULL when any cell
    is zero (the Wald approximation is undefined there).
    """
    e = F.col(exposed_col).cast("boolean")
    y = F.col(outcome_col).cast("boolean")
    cells = df.agg(
        F.sum(F.when(e & y, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(e & ~y, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~e & y, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~e & ~y, 1).otherwise(0)).cast("long").alias("d"),
    )
    zz = float(z_e6) / 1e6
    lnrr = F.log(
        F.col("a").cast("double") * (F.col("c") + F.col("d")).cast("double")
        / (
            F.col("c").cast("double")
            * (F.col("a") + F.col("b")).cast("double")
        )
    )
    se_rr = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        - F.lit(1.0) / (F.col("a") + F.col("b")).cast("double")
        + F.lit(1.0) / F.col("c").cast("double")
        - F.lit(1.0) / (F.col("c") + F.col("d")).cast("double")
    )
    lnor = F.log(
        F.col("a").cast("double") * F.col("d").cast("double")
        / (F.col("b").cast("double") * F.col("c").cast("double"))
    )
    se_or = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        + F.lit(1.0) / F.col("b").cast("double")
        + F.lit(1.0) / F.col("c").cast("double")
        + F.lit(1.0) / F.col("d").cast("double")
    )
    any_zero = (
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0)
    )

    def ci(center, se, sign):
        return F.when(any_zero, F.lit(None).cast("long")).otherwise(
            F.floor(F.exp(center + F.lit(sign * zz) * se) * 1e6).cast(
                "long"
            )
        )

    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "CASE WHEN c = 0 OR a + b = 0 THEN NULL ELSE"
            " CAST((CAST(a AS DECIMAL(38,0)) * (c + d) * 1000000)"
            " div (CAST(c AS DECIMAL(38,0)) * (a + b)) AS BIGINT) END"
        ).alias("rr_ppm"),
        F.expr(
            "CASE WHEN b = 0 OR c = 0 THEN NULL ELSE"
            " CAST((CAST(a AS DECIMAL(38,0)) * d * 1000000)"
            " div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT) END"
        ).alias("or_ppm"),
        ci(lnrr, se_rr, -1).alias("rr_lo_ppm"),
        ci(lnrr, se_rr, +1).alias("rr_hi_ppm"),
        ci(lnor, se_or, -1).alias("or_lo_ppm"),
        ci(lnor, se_or, +1).alias("or_hi_ppm"),
    )
