"""Temporal join operators Spark lacks as built-ins: as-of join and
bucketed range (interval) join.

The reference has no temporal joins (its only join surface is the star
schema's FK equi-joins, IowaLiquor-RDS.session.sql:67-73), but any
time-series extension of its event data needs them, and they are the
canonical examples of operators that are catastrophic when expressed
naively on a distributed engine:

- naive as-of join  = non-equi theta join -> O(n*m) pair blowup per key;
- naive range join  = cross join + filter -> O(n*m) over the whole table.

Both are implemented here with single-shuffle plans:

- :func:`asof_join` uses the union+sort trick: tag both inputs, union,
  ONE shuffle on the join keys, sort each partition by event time, and
  carry the most recent right row forward with
  ``last(payload, ignorenulls=True)`` over a running window. Cost is one
  shuffle + per-partition sort regardless of time spread — the plan a
  kdb/QuestDB-style engine executes natively for ``aj``/ASOF JOIN.
- :func:`range_join` quantizes intervals to covering buckets of a fixed
  width (``explode(sequence(...))`` — narrow), joins points to buckets by
  equality (shuffle or broadcast hash join, Catalyst's choice), then
  applies the exact bound predicate. Each point lives in exactly one
  bucket, so no duplicate elimination is needed. This is the standard
  bucketing strategy for interval joins at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import pin
from ..functions.dates import EPOCH_US_SQL, epoch_us
from ..functions.sums import det_double, xsum


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
    tolerance_us: int | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """Left as-of join: for every left row, attach the single right row
    with the largest ``right_time <= left_time`` (direction ``backward``,
    inclusive) or the smallest ``right_time >= left_time`` (``forward``),
    within the same ``on`` key group.

    Unmatched left rows survive with nulls (left-outer semantics).
    ``tolerance_us`` (microseconds) voids matches further away than the
    tolerance. Right payload columns come back prefixed with
    ``right_prefix``. Ties between right rows at the same timestamp are
    resolved arbitrarily — pre-dedup the right side (e.g.
    :func:`..dedup.dedup_rank` on the key+time) for full determinism.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction}"
        )
    l_payload = [c for c in left.columns if c not in on]
    r_payload = [c for c in right.columns if c not in on]

    tagged_r = right.select(
        *on,
        F.col(right_time).alias("__t"),
        F.lit(1).alias("__is_r"),
        F.struct(*[F.col(c) for c in r_payload]).alias("__r"),
    )
    tagged_l = left.select(
        *on,
        F.col(left_time).alias("__t"),
        F.lit(0).alias("__is_r"),
        F.struct(*[F.col(c) for c in l_payload]).alias("__l"),
    )
    # unionByName(allowMissingColumns): left rows hold null __r, right rows
    # null __l — the nulls are exactly what ignorenulls skips below.
    unioned = tagged_l.unionByName(tagged_r, allowMissingColumns=True)

    wb = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc(), F.col("__is_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").desc(), F.col("__is_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if direction == "nearest":
        # Nearest = smaller |Δt| of the backward and forward matches
        # (backward wins exact ties). Both directions ride the SAME
        # exchange — two sorts of one shuffle — and the pick is a
        # per-row closed form on epoch-us gaps; requires timestamp
        # time columns (like tolerance_us).
        mb, mf = (
            F.last("__r", ignorenulls=True).over(wb),
            F.last("__r", ignorenulls=True).over(wf),
        )
        both = unioned.withColumn("__mb", mb).withColumn("__mf", mf)
        gapb = epoch_us(F.col("__t")) - epoch_us(
            F.col(f"__mb.{right_time}")
        )
        gapf = epoch_us(F.col(f"__mf.{right_time}")) - epoch_us(
            F.col("__t")
        )
        chosen = (
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(gapb <= gapf, F.col("__mb"))
            .otherwise(F.col("__mf"))
        )
        out = both.withColumn("__m", chosen).filter(F.col("__is_r") == 0)
        if tolerance_us is not None:
            gap = F.abs(
                epoch_us(F.col("__t"))
                - epoch_us(F.col(f"__m.{right_time}"))
            )
            out = out.withColumn(
                "__m", F.when(gap <= tolerance_us, F.col("__m"))
            )
        return out.select(
            *on,
            *[F.col(f"__l.{c}").alias(c) for c in l_payload],
            *[
                F.col(f"__m.{c}").alias(f"{right_prefix}{c}")
                for c in r_payload
            ],
        )
    if direction == "backward":
        # Right rows sort BEFORE left rows at equal time -> inclusive <=.
        w = wb
        matched = F.last("__r", ignorenulls=True).over(w)
    else:
        # Forward = smallest right_time >= left_time. Expressed as a
        # RUNNING frame over the DESC sort (right rows first at equal
        # time -> inclusive >=): Spark executes [current,
        # unboundedFollowing) frames by re-scanning the partition tail
        # per row — O(n²) per key — while the reversed running
        # last-ignorenulls is the same answer in O(n).
        w = wf
        matched = F.last("__r", ignorenulls=True).over(w)

    out = unioned.withColumn("__m", matched).filter(F.col("__is_r") == 0)
    if tolerance_us is not None:
        gap = F.abs(
            epoch_us(F.col("__t")) - epoch_us(F.col(f"__m.{right_time}"))
        )
        out = out.withColumn("__m", F.when(gap <= tolerance_us, F.col("__m")))
    return out.select(
        *on,
        *[F.col(f"__l.{c}").alias(c) for c in l_payload],
        *[F.col(f"__m.{c}").alias(f"{right_prefix}{c}") for c in r_payload],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_expr: str,
    start_expr: str,
    end_expr: str,
    bucket_width: int,
    on: list[str] | None = None,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``start <= point < end`` (half-open), optionally also matching equal
    ``on`` keys.

    ``point_expr`` / ``start_expr`` / ``end_expr`` are integer-valued
    column names (epoch micros for time — caller converts; plain ints for
    numeric bands). Intervals are exploded to their covering buckets of
    ``bucket_width`` (cheap: ceil(len / width) rows each); each point maps
    to exactly one bucket, so the bucket equi-join plus the exact bound
    predicate is duplicate-free — no distinct needed. Pick ``bucket_width``
    near the typical interval length: wider -> fewer index rows, narrower
    -> tighter candidate sets. Overlapping intervals are fine (each match
    is its own output row).
    """
    on = on or []
    # Integer `div`, not floating `/` + floor: epoch-micros values are
    # ~1.7e15 and must bucket exactly. Assumes non-negative domains
    # (`div` truncates toward zero).
    idx = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"`{start_expr}` div {bucket_width}"),
                F.expr(f"(`{end_expr}` - 1) div {bucket_width}"),
            )
        ),
    )
    pts = points.withColumn(
        "__bucket", F.expr(f"`{point_expr}` div {bucket_width}")
    )
    cond = (F.col(start_expr) <= F.col(point_expr)) & (
        F.col(point_expr) < F.col(end_expr)
    )
    return pts.join(idx, on=[*on, "__bucket"], how="inner").filter(cond).drop(
        "__bucket"
    )


def resample_ffill(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Regular-grid resampling with forward fill — the hypertable/
    time_bucket gap-fill operator: bucket each series to a fixed
    ``bucket_us`` grid, keep the last observation per bucket, densify
    every key's span to a complete grid, and carry the last value
    forward across empty buckets.

    Returns (key, bucket, value_ffill); ``bucket`` is the integer
    epoch-us division — TZ-free, and exact where a double division
    would round. Dataflow: one shuffle on the key for the per-bucket
    "last" window + span aggregate, a narrow ``sequence``-explode for
    the grid (rows = span/bucket width, independent of event count),
    and one more key-partitioned window for the fill. Leading buckets
    before a key's first observation stay NULL by construction (the
    grid starts at the key's first event).

    The per-bucket reduction uses a row_number window rather than
    ``max_by`` so the tie order (ts, tiebreak) is total and the result
    reproducible in any engine.
    """
    us = epoch_us(F.col(ts_col))
    ev = df.withColumn("bucket", F.expr(f"{EPOCH_US_SQL.format(col=ts_col)} div {bucket_us}"))
    wlast = Window.partitionBy(key_col, "bucket").orderBy(
        us.desc(), F.col(tiebreak).desc()
    )
    per_bucket = (
        ev.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(key_col, "bucket", F.col(value_col).alias("v"))
    )
    span = ev.groupBy(key_col).agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = span.select(
        key_col, F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    joined = grid.join(per_bucket, [key_col, "bucket"], "left")
    wfill = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        "bucket",
        F.last("v", ignorenulls=True).over(wfill).alias("value_ffill"),
    )


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping/touching intervals per key — the coverage
    primitive behind uptime calculations, ad-exposure windows, and
    sessionized dwell time. Classic gaps-and-islands: within each key,
    order by start and open a new island whenever a start exceeds the
    running max of all previous ends; the island id is the running count
    of such breaks, then one aggregate collapses each island to its
    envelope.

    Scale shape: two window passes + one aggregate, all partitioned by
    ``key_col`` — scales with keys, never a global sort. All timestamp
    arithmetic stays integral (epoch seconds), so results are
    bit-portable across engines.

    Returns (key, island, merge_start, merge_end, n_merged, covered_secs).
    """
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(key_col)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max(end_col).over(w_prev)
    marked = df.withColumn(
        "is_break",
        # Explicit 1/0 (first row opens an island): a bare comparison is
        # NULL on the first row and must not be conflated with "no break".
        F.when(
            prev_max.isNull() | (F.col(start_col) > prev_max), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("is_break").over(w_run))
    return (
        marked.groupBy(F.col(key_col).alias("key"), "island")
        .agg(
            F.min(start_col).alias("merge_start"),
            F.max(end_col).alias("merge_end"),
            F.count(F.lit(1)).cast("long").alias("n_merged"),
        )
        .withColumn(
            "covered_secs",
            (F.col("merge_end") - F.col("merge_start")).cast("long"),
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    start_col: str = "start_s",
    end_col: str = "end_s",
    bucket_secs: int = 1800,
) -> DataFrame:
    """Interval-overlap join: all (left, right) pairs sharing ``key``
    whose [start, end] ranges intersect. The naive form is a theta join
    (``a.start <= b.end AND b.start <= a.end``) — a Cartesian product per
    key that no engine executes at scale. The Spark-first plan: explode
    each interval into the fixed-width time BUCKETS it covers, equi-join
    on (key, bucket) — hash-partitionable, AQE-skew-splittable — then
    dedupe the pair (an interval pair can meet in several buckets) and
    verify true overlap on candidates only. Cost is O(intervals x
    buckets-per-interval + true pairs), never per-key quadratic; pick
    ``bucket_secs`` near the typical interval length so most intervals
    hit 1-2 buckets.

    Left columns are suffixed ``_a``, right ``_b``; adds integer
    ``overlap_secs`` (closed-interval intersection length).
    """
    def bucketed(df: DataFrame, suffix: str) -> DataFrame:
        renamed = df.select(
            F.col(key).alias(key),
            *[
                F.col(c).alias(f"{c}{suffix}")
                for c in df.columns
                if c != key
            ],
        )
        # Integer `div` like range_join: epoch values must bucket exactly
        # (a double divide can round across the truncation edge).
        return renamed.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"`{start_col}{suffix}` div {bucket_secs}"),
                    F.expr(f"`{end_col}{suffix}` div {bucket_secs}"),
                )
            ),
        )

    cand = (
        bucketed(left, "_a")
        .join(bucketed(right, "_b"), [key, "bucket"])
        .drop("bucket")
        .distinct()
    )
    sa, ea = F.col(f"{start_col}_a"), F.col(f"{end_col}_a")
    sb, eb = F.col(f"{start_col}_b"), F.col(f"{end_col}_b")
    return cand.filter((sa <= eb) & (sb <= ea)).withColumn(
        "overlap_secs",
        (F.least(ea, eb) - F.greatest(sa, sb)).cast("long"),
    )


def autocorrelation(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    lags: tuple[int, ...] = (1, 2, 3),
    scale: int = 100,
) -> DataFrame:
    """Per-key autocorrelation function (ACF): Pearson correlation of the
    series with itself shifted by each lag — the seasonality /
    persistence diagnostic that precedes any forecasting model choice.

    Spark-first: one per-key window (hash-partitioned by key — never a
    global sort) produces all lagged columns in a single pass, then one
    map-side-combinable moment aggregate per key emits every lag's
    correlation. Values quantize to exact integers (``round(v*scale)``),
    the per-lag moments are exact integer sums (order-independent), and
    each corr finishes in one fixed +-*/sqrt double formula, emitted as
    ``floor(corr * 1e9)`` BIGINT — bitwise-stable in any engine (native
    corr accumulators are partition-order sensitive).
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    qv = F.round(F.col(value_col) * scale).cast("long")
    lagged = df.select(
        key_col,
        order_col,
        qv.alias("_v"),
        *[F.lag(qv, lag).over(w).alias(f"_l{lag}") for lag in lags],
    )
    # Squared/cross-product moments are summed in DECIMAL(38,0) (xsum)
    # and converted with the hi/lo det_double split — an int64 SUM of
    # v*v silently wraps in non-ANSI mode once per-key rows reach ~1e11
    # (squared-cents rows are ~1e10 each), and a direct decimal→double
    # cast is not guaranteed correctly rounded identically per engine.
    aggs = [F.count("_v").cast("long").alias("n_obs")]
    for lag in lags:
        ok = F.col(f"_l{lag}").isNotNull()
        aggs += [
            F.sum(ok.cast("long")).cast("double").alias(f"n{lag}"),
            xsum(F.when(ok, F.col("_v")), f"sx{lag}_"),
            xsum(F.when(ok, F.col("_v") * F.col("_v")), f"sxx{lag}_"),
            xsum(F.when(ok, F.col(f"_l{lag}")), f"sy{lag}_"),
            xsum(F.when(ok, F.col(f"_l{lag}") * F.col(f"_l{lag}")), f"syy{lag}_"),
            xsum(F.when(ok, F.col("_v") * F.col(f"_l{lag}")), f"sxy{lag}_"),
        ]
    g = lagged.groupBy(key_col).agg(*aggs)
    outs = [F.col(key_col), F.col("n_obs")]
    for lag in lags:
        n = F.col(f"n{lag}")
        sx, sxx = det_double(f"sx{lag}_"), det_double(f"sxx{lag}_")
        sy, syy = det_double(f"sy{lag}_"), det_double(f"syy{lag}_")
        sxy = det_double(f"sxy{lag}_")
        corr = (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )
        outs.append(
            F.floor(corr * F.lit(1e9)).cast("long").alias(f"acf_{lag}_ppb")
        )
    return g.select(*outs)


def resample_interpolate(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    bucket_us: int = 3_600_000_000,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Regular-grid resampling with LINEAR interpolation — the gap-fill
    variant for continuous signals (sensor series, prices) where
    forward-fill (:func:`resample_ffill`) would flat-line through gaps.

    Same shuffle discipline as the ffill twin: one key shuffle for the
    per-bucket "last" reduction + span, a narrow ``sequence`` explode
    for the grid, one key-partitioned sort feeding BOTH the backward
    (prev observed bucket/value) and forward (next observed) window
    frames — the two frames share one exchange+sort. Interpolation is a
    per-row closed form ``pv + (nv-pv)*(bucket-pb)/(nb-pb)``, identical
    expression tree in any engine (no accumulation, so no float-order
    hazard); observed buckets pass their value through untouched.

    Returns (key, bucket, value_interp, is_observed).
    """
    us = epoch_us(F.col(ts_col))
    ev = df.withColumn(
        "bucket",
        F.expr(f"{EPOCH_US_SQL.format(col=ts_col)} div {bucket_us}"),
    )
    wlast = Window.partitionBy(key_col, "bucket").orderBy(
        us.desc(), F.col(tiebreak).desc()
    )
    per_bucket = (
        ev.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(key_col, "bucket", F.col(value_col).alias("v"))
    )
    span = ev.groupBy(key_col).agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = span.select(
        key_col, F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    joined = grid.join(per_bucket, [key_col, "bucket"], "left")
    wback = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward lookup as a RUNNING frame over the reversed sort: Spark
    # executes [current, unboundedFollowing) frames by re-scanning the
    # partition tail per row (O(n²) per key — measured 15s at sf0.1);
    # last-ignorenulls over the desc-ordered running frame is the same
    # "next observed at or after me" in O(n).
    wfwd = (
        Window.partitionBy(key_col)
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    marked = joined.select(
        key_col,
        "bucket",
        "v",
        F.last(obs_bucket, ignorenulls=True).over(wback).alias("pb"),
        F.last("v", ignorenulls=True).over(wback).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(wfwd).alias("nb"),
        F.last("v", ignorenulls=True).over(wfwd).alias("nv"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("bucket") - F.col("pb")
    ) / (F.col("nb") - F.col("pb"))
    return marked.select(
        key_col,
        "bucket",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(interp)
        .alias("value_interp"),
        F.col("v").isNotNull().cast("int").alias("is_observed"),
    )


def lttb_downsample(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (parallel variant):
    per key, split the ordered series into ``n_buckets`` position
    buckets and keep, per interior bucket, the point spanning the
    largest triangle against the NEIGHBOR BUCKETS' average points; the
    first and last points are always kept. This is the standard
    visual-fidelity downsampler for plotting million-point series.
    Deviation from sequential LTTB, stated plainly: the left anchor is
    the previous bucket's AVERAGE, not its selected point — that cut
    makes every bucket independent (one window pass + two
    neighbor-bucket joins) instead of a sequential chain, which is the
    only form that parallelizes.

    All triangle areas are exact integers: with integer positions and
    integer values, 2·area·n_prev²·n_next is the integer
    ``|(sxp·nn − sxn·np)·(y·np − syp) − (sxp − x·np)·(syn·np − syp·nn)|``
    — argmax is total-ordered by (area desc, position asc), so the kept
    set is bit-stable on any partitioning. Overflow bound: positions ≤
    series length L, so terms stay under 2^63 for L ≲ 1e6 per key at
    cent-scale values; beyond that, pre-aggregate the series first
    (e.g. OHLC per minute) — downsampling a billion raw points to 64
    buckets directly is a smell, not a use case.

    Returns (key, pos, bucket, value) — the kept points.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    wk = Window.partitionBy(key_col)
    pts = df.select(
        F.col(key_col).alias("k"),
        F.col(value_col).alias("y"),
        *[F.col(c) for c in order_cols],
    ).withColumn("x", F.row_number().over(
        Window.partitionBy("k").orderBy(*order_cols)
    )).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("k")))
    b = F.expr(f"((x - 1) * {n_buckets}) div n")
    pts = pts.select("k", "x", "y", "n", b.alias("b"))
    aggs = pts.groupBy("k", "b").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    prev = aggs.select(
        "k", (F.col("b") + 1).alias("b"),
        F.col("m").alias("np"), F.col("sx").alias("sxp"),
        F.col("sy").alias("syp"),
    )
    nxt = aggs.select(
        "k", (F.col("b") - 1).alias("b"),
        F.col("m").alias("nn"), F.col("sx").alias("sxn"),
        F.col("sy").alias("syn"),
    )
    j = pts.join(prev, ["k", "b"], "left").join(nxt, ["k", "b"], "left")
    area = F.abs(
        (F.col("sxp") * F.col("nn") - F.col("sxn") * F.col("np"))
        * (F.col("y") * F.col("np") - F.col("syp"))
        - (F.col("sxp") - F.col("x") * F.col("np"))
        * (F.col("syn") * F.col("np") - F.col("syp") * F.col("nn"))
    )
    wb = Window.partitionBy("k", "b").orderBy(
        F.col("_area").desc(), F.col("x").asc()
    )
    ranked = j.withColumn(
        "_area",
        F.when(
            F.col("np").isNotNull() & F.col("nn").isNotNull(), area
        ).otherwise(F.lit(0)),
    ).withColumn("_rn", F.row_number().over(wb))
    keep = (
        (F.col("x") == 1)
        | (F.col("x") == F.col("n"))
        | (
            F.col("np").isNotNull()
            & F.col("nn").isNotNull()
            & (F.col("_rn") == 1)
        )
    )
    return ranked.filter(keep).select(
        F.col("k").alias(key_col),
        F.col("x").alias("pos"),
        F.col("b").cast("int").alias("bucket"),
        F.col("y").alias(value_col),
    )


def sequence_motif_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    motif: str,
) -> DataFrame:
    """Behavioral motif counting — the lightweight MATCH_RECOGNIZE: each
    key's event stream becomes an initial-character string in (ts, id)
    order, and the motif (an exact initial-sequence, e.g. ``"vcp"`` for
    view→click→purchase with nothing between) is counted
    non-overlapping via pure string arithmetic
    ``(len(s) − len(replace(s, m, ''))) / len(m)`` — identical in any
    engine, where regex quantifier semantics are not.

    One hash aggregate per key (``sort_array(collect_list(struct))``
    gives the total (ts, id) order without a window pass); per-key
    state is the event sequence itself, so this is for bounded streams
    per key (sessions, journeys) — the same contract as any
    sessionization.

    Returns (key, seq_len, n_motifs) per key.
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(id_col).alias("i"),
                F.substring(F.col(type_col), 1, 1).alias("c"),
            )
        )
    )
    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.array_join(
            F.transform(ordered, lambda x: x.getField("c")), ""
        ).alias("seq")
    )
    return per.select(
        F.col("k").alias(key_col),
        F.length("seq").cast("long").alias("seq_len"),
        F.expr(
            f"CAST((length(seq) - length(replace(seq, '{motif}', '')))"
            f" div {len(motif)} AS BIGINT)"
        ).alias("n_motifs"),
    )


def _burst_combine_sql(acc: str, m: str, elem) -> str:
    """Render the tropical-semiring 2x2 matrix product for the burst
    fold: cell (i,j) of ``acc ⊗ m`` is ``min_k(acc_c(i,k) + m_c(k,j))``
    with burst-day counts carried along the winning path (ties: fewer
    days, then k=0). ``elem`` renders 1-based element access for the
    target engine, so the IDENTICAL arithmetic runs in Spark and DuckDB.

    Layout: flat 8-list [c00,d00,c01,d01,c10,d10,c11,d11]; cost of cell
    (i,j) at 1-based index 4i+2j+1, days at +1.
    """
    cells = []
    for i in (0, 1):
        for j in (0, 1):
            c = [
                f"({elem(acc, 4 * i + 2 * k + 1)} + {elem(m, 4 * k + 2 * j + 1)})"
                for k in (0, 1)
            ]
            d = [
                f"({elem(acc, 4 * i + 2 * k + 2)} + {elem(m, 4 * k + 2 * j + 2)})"
                for k in (0, 1)
            ]
            pick = (
                f"CASE WHEN {c[0]} < {c[1]} THEN {{k0}} "
                f"WHEN {c[1]} < {c[0]} THEN {{k1}} "
                f"WHEN {d[0]} <= {d[1]} THEN {{k0}} ELSE {{k1}} END"
            )
            cells.append(pick.format(k0=c[0], k1=c[1]))
            cells.append(pick.format(k0=d[0], k1=d[1]))
    return ", ".join(cells)


def burst_segments(
    df: DataFrame,
    key_col: str,
    day_col: str,
    hot_col: str,
) -> DataFrame:
    """Kleinberg-style burst detection (2-state automaton, integerized):
    given per-(key, day) binary "hot" observations, find the min-cost
    base/burst state path where entering the burst state costs 2, a hot
    day in the base state costs 1, and a cold day in the burst state
    costs 2 — and report how many days the optimal path spends in the
    burst state (plus the path cost).

    The Viterbi recurrence is sequential, but (min, +) matrix products
    are ASSOCIATIVE: each day becomes a 2x2 tropical cost matrix
    (burst-day counters carried per cell, deterministic tie-breaks:
    fewer burst days, then lower predecessor state) and the whole path
    reduces with ONE higher-order ``aggregate`` fold per key — no UDF,
    no iteration, no driver state. The same fold runs in DuckDB via
    ``list_reduce`` seeded with the identity matrix, so this "custom
    operator Spark lacks" is still exactly oracle-checkable.

    Scale shape: input is the already-aggregated (key, day) relation
    (O(keys x days), tiny next to the fact table); one sorted
    collect_list per key bounded by the calendar, then O(days) 8-cell
    combines inside the row. Keys parallelize across the cluster.
    """
    inf = 10**15
    ordered = F.sort_array(
        F.collect_list(F.struct(F.col(day_col).alias("d"), F.col(hot_col).alias("x")))
    )
    per = df.groupBy(F.col(key_col)).agg(
        ordered.alias("s"),
        F.sum(hot_col).cast("long").alias("n_hot"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    per = per.withColumn(
        "mats",
        F.expr(
            "transform(s, e -> array(cast(e.x as bigint), 0L,"
            " cast(2 + 2 * (1 - e.x) as bigint), 1L,"
            " cast(e.x as bigint), 0L,"
            " cast(2 * (1 - e.x) as bigint), 1L))"
        ),
    )

    def spark_elem(arr: str, idx: int) -> str:
        return f"element_at({arr}, {idx})"

    combine = _burst_combine_sql("acc", "m", spark_elem)
    folded = per.withColumn(
        "f",
        F.expr(
            f"aggregate(mats, array(0L, 0L, {inf}L, 0L, {inf}L, 0L, 0L, 0L),"
            f" (acc, m) -> array({combine}))"
        ),
    )
    c0, d0 = "element_at(f, 1)", "element_at(f, 2)"
    c1, d1 = "element_at(f, 3)", "element_at(f, 4)"
    return folded.select(
        key_col,
        "n_days",
        "n_hot",
        F.expr(
            f"CASE WHEN {c0} <= {c1} THEN {d0} ELSE {d1} END"
        ).cast("long").alias("burst_days"),
        F.expr(f"least({c0}, {c1})").cast("long").alias("path_cost"),
    )


def max_drawdown(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Maximum drawdown per key of the CUMULATIVE value series in time
    order: ``max over t of (running_max(cum) − cum_t)`` — the standard
    worst-peak-to-trough risk number, and in pipeline-monitoring terms
    "the deepest sustained dip this metric ever took". Values are
    integer units (cents/counts — quantize upstream), so running sums
    and the drawdown are exact in any engine.

    Two stacked windows over the SAME (key, time) partition order: one
    cumulative sum, one running max — the per-key series length bounds
    the partition (the 200-keys-growing-rows caveat of the acf/burst
    family applies; keys here are event types / metric names, not
    users).

    Returns per key: (key, n_points, final_value, max_drawdown).
    """
    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    d = df.select(
        F.col(key_col).alias("k"),
        *[c.alias(f"_o{i}") for i, c in enumerate(order)],
        F.col(value_col).cast("long").alias("v"),
    )
    w2 = (
        Window.partitionBy("k")
        .orderBy(*[F.col(f"_o{i}") for i in range(len(order))])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum", F.sum("v").over(w2))
    dd = cum.withColumn("peak", F.max("cum").over(w2)).select(
        "k", "cum", (F.col("peak") - F.col("cum")).alias("dd")
    )
    return dd.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("dd").cast("long").alias("max_drawdown"),
    ).select(F.col("k").alias(key_col), "n_points", "max_drawdown")


def decayed_topk(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    half_life_days: int = 7,
    k: int = 20,
) -> DataFrame:
    """Time-decayed leaderboard: per key, ``Σ value·2^(−age_days/h)``
    with age in WHOLE days from the corpus max timestamp — the standard
    freshness-weighted ranking (trending sources, active users) where
    yesterday counts double next week.

    Determinism: ages quantize to integer days, values to integer
    cents, and each event's decayed contribution rounds to the integer
    1e6 grid BEFORE the per-key sum (the term_kl convention — float
    accumulation order never matters). One double ``pow(2, −d/h)`` per
    row feeds the rounding; the top-k is a distributed
    TakeOrderedAndProject on (score desc, key), never a global sort.

    Returns k rows: (key, n_events, score_e6).
    """
    mx = df.agg(F.max(F.col(ts_col)).alias("mx"))
    d = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).crossJoin(F.broadcast(mx))
    term = F.round(
        F.col("cents")
        * F.pow(
            F.lit(2.0),
            -(F.datediff(F.col("mx"), F.col("ts")).cast("double"))
            / F.lit(float(half_life_days)),
        )
        * 1e4,
        0,
    ).cast("long")
    return (
        d.select("key", term.alias("t"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("t").cast("long").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "key")
        .limit(k)
    )


def sax_words(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    w: int = 8,
    alphabet: int = 4,
    tie_col: str | None = None,
) -> DataFrame:
    """SAX symbolization (Lin/Keogh 2003) of each key's value series:
    PAA-compress the ordered series into ``w`` segments (mean per
    segment), then map segment means to an ``alphabet``-letter word —
    the classic index/motif/anomaly representation for time series
    ("two metrics with the same word moved the same way").

    This is the EQUAL-WIDTH variant: symbols bin the segment mean's
    position inside the key's [min, max] mean range via
    ``least(a−1, (mean − min)·a div (max − min + 1))`` — exact integer
    arithmetic end-to-end (classic SAX z-normalizes against Gaussian
    breakpoints, which is float-land; the integer variant is
    bit-portable across engines, the house contract).

    Per-key windows bound their partitions by the series length (keys
    are metric names/event types — the acf/burst-family caveat).

    Returns per key: (key, n_points, sax_word).
    """
    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    d = df.select(
        F.col(key_col).alias("k"),
        *[c.alias(f"_o{i}") for i, c in enumerate(order)],
        F.col(value_col).cast("long").alias("c"),
    )
    wk = Window.partitionBy("k").orderBy(
        *[F.col(f"_o{i}") for i in range(len(order))]
    )
    wall = Window.partitionBy("k")
    r = d.select(
        "k",
        "c",
        F.row_number().over(wk).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    seg = r.select(
        "k", "n", "c", F.expr(f"((r - 1) * {w}) div n").alias("seg")
    )
    m = seg.groupBy("k", "seg").agg(
        F.expr("sum(c) div count(1)").alias("mc"),
        F.max("n").alias("n"),
    )
    b = m.select(
        "k",
        "seg",
        "mc",
        "n",
        F.min("mc").over(Window.partitionBy("k")).alias("mn"),
        F.max("mc").over(Window.partitionBy("k")).alias("mx"),
    )
    sym = b.select(
        "k",
        "seg",
        "n",
        F.least(
            F.lit(alphabet - 1),
            F.expr(f"((mc - mn) * {alphabet}) div (mx - mn + 1)"),
        ).alias("sym"),
    )
    return (
        sym.groupBy("k")
        .agg(
            F.max("n").cast("long").alias("n_points"),
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(seg, sym))),"
                " x -> char(97 + x.sym)), '')"
            ).alias("sax_word"),
        )
        .select(F.col("k").alias(key_col), "n_points", "sax_word")
    )


def ljung_box(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    lags: tuple[int, ...] = (1, 2, 3),
    scale: int = 100,
) -> DataFrame:
    """Ljung–Box portmanteau white-noise test per key:
    ``Q = n(n+2)·Σ_k ρ_k²/(n−k)`` over the first ``len(lags)``
    autocorrelations — "is there ANY serial structure left", the
    standard residual diagnostic after detrending/forecasting (large Q
    → the series is not noise; compare to χ²_{#lags}).

    Defined ON THE PPB-GRIDDED ACF of :func:`autocorrelation` (whose
    correlations are already engine-deterministic): each ρ_k² term is
    an exact integer truncating division by (n−k), and Q lands on the
    ppm grid via one DECIMAL(38,0) division — no float beyond what the
    ACF itself pinned. Adds only an O(keys) projection on top of the
    ACF aggregate.

    Returns per key: (key, n_obs, q_ppm).
    """
    a = autocorrelation(df, key_col, order_col, value_col, lags, scale)
    term = " + ".join(
        f"(CAST(acf_{k}_ppb AS DECIMAL(38,0)) * acf_{k}_ppb)"
        f" div (n_obs - {k})"
        for k in lags
    )
    return a.select(
        key_col,
        "n_obs",
        F.expr(
            f"CAST((CAST(n_obs AS DECIMAL(38,0)) * (n_obs + 2)"
            f" * ({term})) div 1000000000000 AS BIGINT)"
        ).alias("q_ppm"),
    )


def durbin_watson(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    value_scale: int = 1_000_000,
) -> DataFrame:
    """Durbin–Watson autocorrelation diagnostic per series: DW =
    Σ(e_t − e_{t−1})² / Σe_t² over mean-residuals, the classic "are my
    model residuals (or metric series) serially correlated" readout —
    ≈2 means white noise, →0 positive drift, →4 alternation. The
    Ljung–Box test here asks the same question jointly over many lags;
    DW is the single-number lag-1 form every regression report prints.

    All-integer: values land on a fixed grid (``floor(v·scale)``), the
    residual is cleared of the mean by scaling both sums by n
    (e_t·n = v_t·n − S, Δe_t·n = Δv_t·n), so DW·1e6 =
    n²·Σ(Δv)²·1e6 div Σ(n·v − S)² with every term DECIMAL(38,0). One
    hash-partitioned per-key window pass (lag) + one combinable
    aggregate — the :func:`autocorrelation` shape.

    Returns (key, n, dw_ppm).
    """
    from pyspark.sql import Window

    g = df.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.floor(F.col(value_col).cast("double") * F.lit(int(value_scale)))
        .cast("decimal(38,0)")
        .alias("v"),
    )
    w = Window.partitionBy("k").orderBy("o")
    lagged = g.select(
        "k",
        "v",
        (F.col("v") - F.lag("v").over(w)).alias("dv"),
    )
    s = lagged.groupBy("k").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("dv") * F.col("dv")).alias("sdd"),
    )
    # Σ(n·v − S)² = n²·Σv² − 2nS·Σv + n·S² = n²Σv² − nS² ; numerator
    # n²·Σ(Δv)². Both exact; ratio on the ppm truncating-div grid.
    return s.select(
        F.col("k").alias(key_col),
        F.col("n").cast("long").alias("n"),
        # truncating integer div (Spark `div` == DuckDB `//`), exact
        F.expr(
            "CASE WHEN n * n * svv - n * sv * sv = 0 THEN NULL"
            " ELSE CAST((n * n * sdd * 1000000)"
            " div (n * n * svv - n * sv * sv) AS BIGINT) END"
        ).alias("dw_ppm"),
    )


def hurst_rs(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    window_sizes: tuple[int, ...] = (8, 16, 32, 64),
    value_scale: int = 1_000_000,
    distributed_index: bool = False,
) -> DataFrame:
    """Hurst exponent per series via classical rescaled-range (R/S)
    analysis (Hurst 1951; Mandelbrot & Wallis 1969): chop the series
    into complete chunks of each window size w, compute each chunk's
    range-of-cumulative-deviations over its standard deviation, and
    regress ln(mean R/S) on ln(w) — H≈0.5 is a random walk, H>0.5
    long-range persistence (trends compound), H<0.5 mean reversion.
    The "does this metric have memory" diagnostic for event streams.

    Exactness: values land on the ``floor(v·scale)`` grid; the chunk
    cumulative deviation is cleared of the mean by n-scaling
    (n·Y_j = n·cum_j − j·S — exact DECIMAL(38,0)), so
    R/S = (max n·Y − min n·Y) / sqrt(n·Σv² − S²) with ONE double sqrt
    per chunk, floored to ppm; per-w means and the final 4-point
    ln-ln regression reuse the zipf_slope convention (1e-6 ln grid,
    exact integer regression sums, truncating-div slope).

    Scale shape: rows replicate ×|window_sizes| (explode), every
    window partitions by (key, w, chunk) — O(w)-sized partitions, no
    global sort anywhere; everything after the chunk aggregate is
    O(#chunks) then O(|window_sizes|) rows per key. The one
    parallelism cap is the initial per-series index: the default
    ``row_number() OVER (PARTITION BY key)`` runs one task per SERIES,
    which is the right plan for many series but serializes when a few
    very long series dominate (the measured x16/x64 tail in SCALE.md's
    round-9 probe). ``distributed_index=True`` switches that step to
    the range-partitioned ``ranking.global_row_number`` (ordered by
    (key, order) so each series is contiguous) plus an O(#series)
    first-row offset join — parallelism bounded by cores instead of
    series count. The two arms are bit-identical WHEN (key_col,
    order_col) is unique per row (the precondition global_row_number
    documents); under duplicate order values both arms break ties
    arbitrarily, so idx→value mappings (and downstream chunk
    statistics) may differ between the plans. The distributed arm
    materializes the indexed relation eagerly (localCheckpoint) so the
    range-shuffle cache can be released before returning instead of
    leaking one cached relation per call. Default stays per-key: that
    shuffle + checkpoint + offset machinery only pays for itself in
    the few-long-series regime.

    Returns (key, n_levels, hurst_ppm).
    """
    from pyspark.sql import Window

    wk = Window.partitionBy("k").orderBy("o")
    sel = df.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.floor(F.col(value_col).cast("double") * F.lit(int(value_scale)))
        .cast("decimal(38,0)")
        .alias("v"),
    )
    if distributed_index:
        from .ranking import global_row_number

        handle: list = []
        g = global_row_number(
            sel, ["k", "o"], out_col="_grn", cache_handle=handle
        )
        firsts = g.groupBy("k").agg(F.min("_grn").alias("_k0"))
        base = (
            g.join(F.broadcast(firsts), "k")
            .withColumn("idx", (F.col("_grn") - F.col("_k0") + 1).cast("int"))
            .drop("_grn", "_k0")
            # Eager localCheckpoint pins the indexed rows, after which
            # the range-shuffle cache inside global_row_number can be
            # released HERE — otherwise every call leaks one persisted
            # relation into executor storage for the session's life.
            .localCheckpoint(eager=True)
        )
        for cached in handle:
            cached.unpersist()
    else:
        base = sel.withColumn("idx", F.row_number().over(wk))
    lvls = F.array(*[F.lit(int(w)) for w in window_sizes])
    rep = base.withColumn("w", F.explode(lvls)).withColumn(
        "chunk", F.expr("CAST((idx - 1) div w AS BIGINT)")
    )
    wc = Window.partitionBy("k", "w", "chunk").orderBy("idx")
    wall = wc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per_row = rep.select(
        "k",
        "w",
        "chunk",
        F.count(F.lit(1)).over(wall).cast("decimal(38,0)").alias("n"),
        F.sum("v").over(wall).alias("s"),
        (
            F.count(F.lit(1)).over(wall).cast("decimal(38,0)")
            * F.sum("v").over(
                wc.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.row_number().over(wc).cast("decimal(38,0)") * F.sum("v").over(wall)
        ).alias("ny"),
        F.sum(F.col("v") * F.col("v")).over(wall).alias("ssq"),
    )
    chunks = (
        per_row.groupBy("k", "w", "chunk")
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("ssq").alias("ssq"),
            (F.max("ny") - F.min("ny")).alias("rn"),
        )
        # complete chunks with non-degenerate variance only
        .filter(
            (F.col("n") == F.col("w").cast("decimal(38,0)"))
            & (F.col("n") * F.col("ssq") - F.col("s") * F.col("s") > 0)
        )
    )
    rs = chunks.select(
        "k",
        "w",
        F.floor(
            F.col("rn").cast("double")
            / F.sqrt(
                (
                    F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
                ).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("rs_ppm"),
    )
    per_w = rs.groupBy("k", "w").agg(
        F.expr("CAST(SUM(rs_ppm) div COUNT(*) AS BIGINT)").alias(
            "mean_rs_ppm"
        )
    )
    pts = per_w.select(
        "k",
        F.floor(F.log(F.col("w").cast("double")) * 1e6)
        .cast("decimal(38,0)")
        .alias("x"),
        F.floor(F.log(F.col("mean_rs_ppm").cast("double")) * 1e6)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    reg = pts.groupBy("k").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return reg.select(
        F.col("k").alias(key_col),
        F.col("m").cast("long").alias("n_levels"),
        F.expr(
            "CASE WHEN m * sxx - sx * sx = 0 THEN NULL"
            " ELSE CAST(((m * sxy - sx * sy) * 1000000)"
            " div (m * sxx - sx * sx) AS BIGINT) END"
        ).alias("hurst_ppm"),
    )


def rolling_grid_quantile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    q_ppm: int = 950_000,
    trailing_days: int = 7,
    bucket_width: int = 1,
    value_scale: int = 1,
) -> DataFrame:
    """Rolling quantile (e.g. trailing-7-day p95) computed from MERGED
    DAILY HISTOGRAMS instead of re-sorting every window — the
    dashboard staple ("p95 over the last week, per day") that naive
    windowing executes as a per-row sort over the window. Each day
    contributes one bounded bucket-count relation; each daily
    histogram row fans out to the <= ``trailing_days`` observed target
    days it covers (a range join with bounded fanout), the per-target
    merge is one hash aggregate, and the quantile is the first bucket
    whose running count crosses the q threshold — exact for the
    gridded values (the house quantize contract: bucket_width IS the
    answer resolution).

    Scale shape: one map-side-combinable groupBy(day, bucket) collapses
    the data; everything after runs on O(days · buckets) rows (fanout
    ×trailing_days), never data rows. Days absent from the data
    contribute nothing and get no output row (compose with date_spine
    for a zero-filled calendar).

    Returns (day, n_window, p_lo) — p_lo is the gridded lower edge of
    the quantile bucket in scaled value units (bucket · bucket_width).
    """
    day = F.to_date(F.date_trunc("DAY", F.col(ts_col)))
    bucket = F.expr(
        f"CAST(floor({value_col} * {int(value_scale)})"
        f" div {int(bucket_width)} AS BIGINT)"
    )
    daily = (
        df.select(day.alias("day"), bucket.alias("b"))
        .groupBy("day", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    days = daily.select("day").distinct().select(
        F.col("day").alias("tday"), F.unix_date(F.col("day")).alias("tnum")
    )
    # each (source day, bucket, count) covers the observed target days
    # in [src, src + trailing): bounded fanout, exact trailing window.
    span = daily.withColumn("snum", F.unix_date("day")).join(
        F.broadcast(days),
        (F.col("tnum") >= F.col("snum"))
        & (F.col("tnum") < F.col("snum") + F.lit(int(trailing_days))),
    )
    merged = span.groupBy("tday", "b").agg(
        F.sum("c").cast("long").alias("wc")
    )
    wday = Window.partitionBy("tday").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.partitionBy("tday")
    scored = merged.select(
        "tday",
        "b",
        F.sum("wc").over(wday).alias("cum"),
        F.sum("wc").over(wtot).alias("tot"),
    )
    hit = scored.filter(
        F.col("cum") * 1_000_000 >= F.col("tot") * F.lit(int(q_ppm))
    )
    wfirst = Window.partitionBy("tday").orderBy("b")
    return (
        hit.withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
        .select(
            F.col("tday").alias("day"),
            F.col("tot").cast("long").alias("n_window"),
            F.expr(f"CAST(b * {int(bucket_width)} AS BIGINT)").alias(
                "p_lo"
            ),
        )
    )


def forecast_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season: int = 7,
    value_scale: int = 100,
) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster with
    MASE (Hyndman & Koehler 2006): per series, forecast each day with
    the value ``season`` days earlier, score |error| against the
    one-step naive's |error| — MASE < 1e6 (ppm grid) means the
    seasonal forecaster beats the naive walk, the scale-free number
    that decides which forecaster a metrics pipeline should trust.

    One combinable daily aggregate collapses the data to O(days) rows
    per key; both "forecasts" are per-key window lags (hash-
    partitioned, parallel across keys); the two absolute-error sums
    are exact int64 on the value grid, MASE one truncating div.

    Returns (key, n_scored, mae_seasonal_e2, mae_naive_e2, mase_ppm).
    """
    from pyspark.sql import Window

    daily = (
        df.select(
            F.col(key_col).alias("k"),
            F.to_date(F.date_trunc("DAY", F.col(ts_col))).alias("day"),
            F.floor(
                F.col(value_col).cast("double") * F.lit(int(value_scale))
            )
            .cast("long")
            .alias("v"),
        )
        .groupBy("k", "day")
        .agg(F.sum("v").alias("v"))
    )
    w = Window.partitionBy("k").orderBy("day")
    scored = daily.select(
        "k",
        (F.col("v") - F.lag("v", int(season)).over(w)).alias("e_s"),
        (F.col("v") - F.lag("v", 1).over(w)).alias("e_n"),
    ).filter(F.col("e_s").isNotNull() & F.col("e_n").isNotNull())
    agg = scored.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("e_s"))).cast("decimal(38,0)").alias("sae_s"),
        F.sum(F.abs(F.col("e_n"))).cast("decimal(38,0)").alias("sae_n"),
    )
    return agg.select(
        F.col("k").alias(key_col),
        "n_scored",
        F.expr("CAST(sae_s div n_scored AS BIGINT)").alias(
            "mae_seasonal_e2"
        ),
        F.expr("CAST(sae_n div n_scored AS BIGINT)").alias(
            "mae_naive_e2"
        ),
        F.expr(
            "CASE WHEN sae_n = 0 THEN NULL"
            " ELSE CAST((sae_s * 1000000) div sae_n AS BIGINT) END"
        ).alias("mase_ppm"),
    )


def rolling_anomaly(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    trailing_days: int = 7,
    k_ppm: int = 3_000_000,
    value_scale: int = 100,
) -> DataFrame:
    """Rolling-median anomaly detection on a daily series: flag days
    whose total deviates from the trailing-window MEDIAN by more than
    k times the global MAD of those residuals — the robust
    (outlier-proof, level-shift-tolerant) daily-metrics alarm; a
    mean/stddev version would let one spike inflate its own threshold.

    Everything reduces to the O(days) daily relation after one
    combinable aggregate. The trailing median is exact: each daily row
    fans out to the <= ``trailing_days`` target days it covers (the
    :func:`rolling_grid_quantile` bounded-fanout trick) and the lower
    median is the rank-((n+1) div 2) smallest by window rank. Residual
    centering and the MAD are medians over O(days) rows (grouped-first
    contract); the flag compare is pure-integer:
    |r − med_r|·1e6 > k_ppm·MAD.

    Returns (day, v, med_trailing, residual, is_anomaly).
    """
    from pyspark.sql import Window

    # The O(days) relations below are each consumed by several branches
    # (the bounded-fanout join, the residual join, the three median /
    # MAD broadcast builds and the final projection); left lazy, every
    # branch re-inlined the whole upstream — the before plan carried 24
    # scans of the fact for ONE aggregate's worth of information.
    # Persist the three tiny relations (optimization round 10); the
    # broadcast builds materialize them sequentially, so there is no
    # same-job cache-fill race.
    daily = pin(
        df.select(
            F.to_date(F.date_trunc("DAY", F.col(ts_col))).alias("day"),
            F.floor(
                F.col(value_col).cast("double") * F.lit(int(value_scale))
            )
            .cast("long")
            .alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").alias("v"))
    )
    days = daily.select(
        F.col("day").alias("tday"),
        F.unix_date(F.col("day")).alias("tnum"),
    )
    span = daily.withColumn("snum", F.unix_date(F.col("day"))).join(
        F.broadcast(days),
        (F.col("tnum") >= F.col("snum"))
        & (F.col("tnum") < F.col("snum") + F.lit(int(trailing_days))),
    )
    wrank = Window.partitionBy("tday").orderBy("v", "day")
    wcnt = Window.partitionBy("tday")
    med = (
        span.select(
            "tday",
            F.col("v").alias("wv"),
            F.row_number().over(wrank).alias("rn"),
            F.count(F.lit(1)).over(wcnt).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("tday").alias("day"), F.col("wv").alias("med"))
    )
    resid = pin(daily.join(med, "day").select(
        "day", "v", F.col("med").alias("med_trailing"),
        (F.col("v") - F.col("med")).alias("r"),
    ))
    # global lower-median of residuals, then MAD — both over O(days)
    wr = Window.orderBy("r", "day")
    wall = Window.partitionBy()
    med_r = (
        resid.select(
            "r",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("r").alias("med_r"))
    )
    dev = pin(resid.crossJoin(F.broadcast(med_r)).withColumn(
        "ad", F.abs(F.col("r") - F.col("med_r"))
    ))
    wd = Window.orderBy("ad", "day")
    mad = (
        dev.select(
            "ad",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("ad").alias("mad"))
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "v",
            "med_trailing",
            F.col("r").alias("residual"),
            (
                F.col("ad") * F.lit(1_000_000)
                > F.lit(int(k_ppm)) * F.col("mad")
            ).alias("is_anomaly"),
        )
    )
