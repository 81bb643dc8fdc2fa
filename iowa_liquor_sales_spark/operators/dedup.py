"""Deduplication operators — reference A2 (key dedup) plus the
training-data-pipeline family: exact content dedup, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

All hashing uses the engine-portable :mod:`..functions.hashing` primitives
so every operator has a bit-identical SQL oracle.

Scale design (100 TB corpus):
- exact dedup: one hash-groupBy; only (hash, count, keeper) rows shuffle.
- MinHash/LSH: shingling + signature build are narrow (explode + map-side
  min-aggregates); candidate generation joins on (band_id, band_hash)
  buckets instead of all-pairs, which is the standard way all-pairs O(n²)
  becomes O(candidates). Hot buckets are bounded by band width; AQE skew
  handling splits any pathological bucket.
- pairwise verification only touches LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.caching import pin
from iowa_liquor_sales_spark.functions.hashing import (
    MERSENNE31,
    affine_params,
    hash60,
    md5_hex,
)


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """First-wins key dedup with unspecified winner — the Spark analog of
    the reference's ``INSERT ... ON CONFLICT (pk) DO NOTHING``
    (IowaLiquor-RDS.session.sql:94,128,145,151,157,182)."""
    return df.dropDuplicates(keys)


def dedup_rank(df: DataFrame, keys: list[str], order_cols: list) -> DataFrame:
    """Deterministic first-wins dedup: the winner is the first row under an
    explicit total order (SURVEY §7.3 — comparable against an oracle,
    unlike ``dropDuplicates``). One shuffle on the key."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup by md5 hash-groupBy: one aggregate, output one
    row per distinct content with the (min-id) keeper and multiplicity."""
    return (
        df.select(md5_hex(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Explode-heavy operators multiply row counts 100×+; if the input sits
    in fewer partitions than the cluster has cores (tiny dimension tables,
    single-file scans), the explode runs underparallelized. Repartition up
    to the default parallelism — a negligible shuffle of the *pre*-explode
    rows that unlocks full-width execution of the expensive part. No-op
    when the input is already wide (the 100 TB case)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """Distinct word n-gram shingles per document.

    Built entirely from Catalyst higher-order functions (split → sequence →
    transform → explode): no Python, narrow until the explode. ``max_df``
    optionally drops shingles occurring in more than that many documents —
    at corpus scale, stop-shingles are what blow up the inverted index.
    """
    df = _ensure_parallelism(df)
    # Split materialized ONCE per row: Catalyst does not CSE inside
    # higher-order-function lambdas, so an inline split would be
    # re-evaluated by every element_at — O(words × n × words) per row
    # (measured 10x on the corpus shingle pass). explode_outer + null
    # filter instead of explode per the InferFiltersFromGenerate engine
    # invariant (an inferred size()>0 filter re-inlines the grams).
    words = F.col("ws_")
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an empty
    # array — documents shorter than n words must be handled explicitly
    # (the explode then drops them, matching the oracle's len(ws) >= n).
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    out = (
        df.withColumn("ws_", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(F.array_distinct(grams)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    if max_df is not None:
        hot = (
            out.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        out = out.join(F.broadcast(hot), "shingle", "left_anti")
    return out


def jaccard_pairs(
    shingle_df: DataFrame,
    min_jaccard: float = 0.5,
    max_df: int | float | None = 0.05,
) -> DataFrame:
    """All-pairs n-gram Jaccard via an inverted-index self-join — pairs are
    generated only for documents sharing ≥1 shingle, then scored exactly.

    ``max_df`` caps shingle document frequency before the self-join: a
    shingle present in more than the cap (an int count, or a float
    fraction of the corpus) is dropped from BOTH the index and the
    per-doc sizes. Without it, one stop-word shingle in n docs yields n²
    candidate rows — the classic all-pairs scale-killer. The default 5%
    cap only touches near-ubiquitous shingles, which carry no similarity
    signal (any pair sharing one is either near-identical — still found
    via its other shingles — or unrelated). ``max_df=None`` restores raw
    exact semantics. For sub-quadratic behavior beyond the cap, compose
    with :func:`minhash_lsh_pairs` (LSH candidates → exact verify).
    """
    # Join on a 64-bit hash of the shingle instead of the string: same
    # intersection counts (collision odds ~n²/2^64 — vanishing), far
    # smaller shuffle payload at corpus scale.
    keyed = shingle_df.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    base = None
    if max_df is not None:
        if isinstance(max_df, float):
            # Fraction caps need the corpus size — one distinct pass over
            # the (persisted) index. Callers that already know N should
            # pass an absolute int cap and skip this job.
            base = pin(keyed)
            cap = max(1, int(max_df * base.select("doc_id").distinct().count()))
            keyed = base
        else:
            cap = int(max_df)
        # df via a COUNT window partitioned by shingle, NOT a separate
        # aggregate + anti-join: the window's exchange is the exact
        # hash-partitioning the self-join below needs, and persisting the
        # windowed result keeps that layout in cache — so the join runs
        # exchange-free on both sides (measured ~25% faster than the
        # aggregate+anti-join form, which paid an extra shuffle + cache).
        w = Window.partitionBy("shingle")
        keyed = (
            keyed.withColumn("df", F.count(F.lit(1)).over(w))
            .filter(F.col("df") <= cap)
            .drop("df")
        )
    # ``keyed`` feeds both the inverted-index self-join (exchange on
    # shingle, reused for both sides) and the per-doc size aggregate
    # (exchange on doc_id) — persist so the scan→explode subtree runs once.
    # The count() materializes the cache NOW: with a lazy persist, the
    # three consumers land in one job and race to compute the uncached
    # subtree, each re-running the scan→explode (measured ~4x wall).
    keyed = pin(keyed)
    keyed.count()
    if base is not None:
        base.unpersist()
    sizes = keyed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(shingle_df: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signatures in wide format: (doc_id, sig_0..sig_{k-1}).

    Permutations come from the universal affine family over 2^31-1
    (``functions.hashing.affine_params``): ONE md5 per shingle, then k
    exact-int64 affine transforms — k aggregate columns over one pass of
    the shingle relation. No k-fold row explode, and partial (map-side)
    aggregation reduces each partition to one row per doc before the
    shuffle, so shuffle volume is O(docs) rows of k columns regardless of
    corpus size.
    """
    a, b = affine_params(num_hashes)
    p = MERSENNE31
    hashed = shingle_df.select(
        "doc_id", (hash60("shingle") % F.lit(p)).alias("h31")
    )
    aggs = [
        F.min((F.lit(a[i]) * F.col("h31") + F.lit(b[i])) % F.lit(p)).alias(
            f"sig_{i}"
        )
        for i in range(num_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(
    sig_df: DataFrame, rows_per_band: int = 4, num_hashes: int = 32
) -> DataFrame:
    """LSH banding over wide signatures: each band of ``rows_per_band``
    consecutive signature values hashes to a bucket (md5 of the
    comma-joined values — reproducible in the SQL oracle via string_agg
    ORDER BY i). Output long: (doc_id, band, bucket)."""
    n_bands = num_hashes // rows_per_band
    band_cols = []
    for b in range(n_bands):
        sig_str = F.concat_ws(
            ",",
            *[
                F.col(f"sig_{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        band_cols.append(F.md5(sig_str.cast("binary")))
    stack_args: list = []
    for b, c in enumerate(band_cols):
        stack_args += [F.lit(b), c]
    return sig_df.select(
        "doc_id",
        F.stack(F.lit(len(band_cols)), *stack_args).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 4,
    min_jaccard: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup detection with exact verification:
    shingle → signatures → band buckets → bucket self-join (candidates) →
    exact Jaccard on the CANDIDATES ONLY (never all pairs — that is the
    whole point of LSH at corpus scale). Returns (doc_a, doc_b, jaccard).

    Verification joins each candidate pair to the two documents'
    hashed-shingle sets (one array per doc) and computes
    |A∩B| / |A∪B| with array intrinsics — O(candidates × shingles), fully
    distributed, no second inverted-index pass.

    ``max_bucket`` is the standard LSH hot-bucket cap: (band, bucket)
    groups holding more than that many documents are dropped BEFORE the
    self-join, bounding the per-bucket fanout at ``max_bucket²``. On a
    small shingle universe (short strings, tiny alphabets) minhash
    values collapse into mega-buckets whose k² fanout dwarfs the real
    candidate set — measured 212x wall blowup on a 128k-name hex
    dictionary before this cap existed (SCALE.md round-7 probe). The
    recall loss concentrates on documents whose every band is
    near-universal; ``None`` (default) keeps the exact historical
    behavior."""
    # ONE shingle pass + ONE shuffle: the same aggregate produces all k
    # signature mins (from the oracle-portable md5 hash) and the exact
    # hashed-shingle set (xxhash64) used for verification.
    sh = shingles(df, text_col, id_col, n=n)
    a_, b_ = affine_params(num_hashes)
    p = MERSENNE31
    hashed = sh.select(
        "doc_id",
        (hash60("shingle") % F.lit(p)).alias("h31"),
        F.xxhash64("shingle").alias("h64"),
    )
    per_doc = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a_[i]) * F.col("h31") + F.lit(b_[i])) % F.lit(p)).alias(
                f"sig_{i}"
            )
            for i in range(num_hashes)
        ],
        F.collect_set("h64").alias("hs"),
    )
    # The signature relation feeds THREE shuffles with different keys
    # (band-bucket self-join, then the two verification joins on doc_a /
    # doc_b), so without materialization Catalyst recomputes the whole
    # scan→shingle→aggregate subtree for each — the most expensive part of
    # the query, done 4x. Persist it once: O(docs) rows of k ints + the
    # hashed-shingle set, MEMORY_AND_DISK so it spills rather than OOMs at
    # corpus scale (measured 2.2x end-to-end on the bench corpus).
    per_doc = pin(per_doc)
    # Materialize the cache eagerly: the three downstream shuffles land in
    # one job and would otherwise race on the uncached subtree, re-running
    # the shingle→signature aggregate up to 4x (measured 59s -> ~10s on
    # the sf0.1 corpus).
    per_doc.count()
    buckets = minhash_band_buckets(
        per_doc, rows_per_band=rows_per_band, num_hashes=num_hashes
    )
    if max_bucket is not None:
        # Hot-bucket cap: one O(buckets) count + a semi-join drops the
        # mega-buckets whose k-squared self-join fanout would dominate.
        small = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= max_bucket)
            .select("band", "bucket")
        )
        buckets = buckets.join(small, ["band", "bucket"], "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    doc_sets = per_doc.select("doc_id", "hs")
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        cand.join(
            doc_sets.withColumnsRenamed({"doc_id": "doc_a", "hs": "set_a"}),
            "doc_a",
        )
        .join(
            doc_sets.withColumnsRenamed({"doc_id": "doc_b", "hs": "set_b"}),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            inter / (F.size("set_a") + F.size("set_b") - inter),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """Per-document SimHash over distinct word unigrams.

    Each word's hash60 votes ±1 on each of ``bits`` positions; the sign of
    the per-position sum forms the fingerprint. Near-dups then differ in few
    bits (Hamming distance). Explode factor is O(words × bits) but rows are
    tiny and both aggregates are partial — still a single shuffle of
    O(docs × bits).
    """
    words = _ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    ).withColumn("h", hash60("w"))
    votes = (
        words.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        )
        .withColumn(
            "vote",
            F.expr("CASE WHEN (shiftright(h, bit) & 1) = 1 THEN 1 ELSE -1 END"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("s"))
    )
    return (
        votes.withColumn(
            "bit_val",
            F.expr(
                "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit_val").alias("simhash"))
    )


def minhash_jaccard_est(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """MinHash *estimation* path: for each LSH candidate pair, estimate
    Jaccard as the fraction of agreeing signature components — the
    standard O(k)-per-pair screen used when exact shingle-set
    verification is too expensive (its complement,
    :func:`minhash_lsh_pairs`, verifies exactly). Output:
    (doc_a, doc_b, agree_k, est_ppm) with est_ppm = agree_k * 1e6 // k —
    exact integer arithmetic, engine-portable.

    Scale shape: identical to the LSH pair path (one shingle pass, one
    O(docs) signature aggregate, banded self-join); the estimate adds no
    extra shuffle because both sides of the candidate join already carry
    their k signature columns.
    """
    sh = shingles(df, text_col, id_col, n=n)
    sigs = pin(minhash_signatures(sh, num_hashes=num_hashes))
    sigs.count()
    buckets = minhash_band_buckets(
        sigs, rows_per_band=rows_per_band, num_hashes=num_hashes
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("long").alias("agree_k"),
            F.expr(f"CAST({'+'.join(f'(CASE WHEN a_{i} = b_{i} THEN 1 ELSE 0 END)' for i in range(num_hashes))} AS BIGINT) * 1000000 div {num_hashes}").alias("est_ppm"),
        )
    )


def normalize_text(c) -> Column:
    """Canonical text form for normalization-robust exact dedup: lowercase,
    non-alphanumerics to spaces, runs of spaces collapsed, trimmed. Two
    documents differing only in case / punctuation / whitespace normalize
    to the same string. Pure Catalyst regexp — scan-speed, no shuffle."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def dedup_normalized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup over the NORMALIZED content hash (see
    :func:`normalize_text`) — the standard first pass before any fuzzy
    method: catches case/punctuation/whitespace variants at exact-dedup
    cost. Same plan shape as :func:`exact_dedup`: one hash-groupBy, only
    (hash, keeper, count) rows shuffle — O(docs) at any corpus size."""
    return (
        df.groupBy(
            F.md5(normalize_text(text_col).cast("binary")).alias("norm_hash")
        )
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_lsh_cross(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Cross-corpus near-dup: find documents in ``left`` (the incoming
    batch) that near-duplicate a document in ``right`` (the existing
    corpus) — the incremental-ingest shape of :func:`minhash_lsh_pairs`.
    IDs must be distinct across the two inputs.

    One union-with-side-tag shares the shingle pass and signature
    aggregate across both corpora (one scan, one shuffle), then the
    band-bucket join keeps only left×right candidates and exact Jaccard
    verifies those. At 100 TB the existing-corpus side's signatures would
    be a precomputed table; this operator is the build-and-join path.

    Returns (left_id, right_id, jaccard) with jaccard >= min_jaccard.
    """
    tagged = left.select(
        F.col(id_col), F.col(text_col), F.lit(0).alias("side")
    ).unionByName(
        right.select(F.col(id_col), F.col(text_col), F.lit(1).alias("side"))
    )
    pairs = minhash_lsh_pairs(
        tagged,
        text_col,
        id_col,
        n=n,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        min_jaccard=min_jaccard,
    )
    sides = tagged.select(F.col(id_col), "side")
    return (
        pairs.join(
            sides.withColumnsRenamed({id_col: "doc_a", "side": "side_a"}),
            "doc_a",
        )
        .join(
            sides.withColumnsRenamed({id_col: "doc_b", "side": "side_b"}),
            "doc_b",
        )
        .filter(F.col("side_a") != F.col("side_b"))
        .select(
            F.when(F.col("side_a") == 0, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("left_id"),
            F.when(F.col("side_a") == 0, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("right_id"),
            "jaccard",
        )
    )


def containment_pairs(
    shingle_df: DataFrame,
    min_containment: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle containment |A∩B| / |A| — catches a
    document wholly EMBEDDED in a larger one, which symmetric Jaccard
    misses (union dominated by the big doc). Returns
    (doc_inner, doc_outer, containment) with containment of the inner
    (smaller-set) side >= threshold; same inverted-index + candidate
    plan as :func:`jaccard_pairs`, same ``max_df`` hot-shingle cap."""
    keyed = shingle_df.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    if max_df is not None:
        w = Window.partitionBy("shingle")
        keyed = (
            keyed.withColumn("df", F.count(F.lit(1)).over(w))
            .filter(F.col("df") <= int(max_df))
            .drop("df")
        )
    keyed = pin(keyed)
    keyed.count()
    sizes = keyed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = keyed.alias("a"), keyed.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    joined = inter.join(
        sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}), "doc_a"
    ).join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}), "doc_b")
    inner_sz = F.least("sz_a", "sz_b")
    cont = F.col("inter") / inner_sz
    return (
        joined.filter(cont >= min_containment)
        .select(
            F.when(F.col("sz_a") <= F.col("sz_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_inner"),
            F.when(F.col("sz_a") <= F.col("sz_b"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_outer"),
            F.floor(cont * F.lit(1e9)).cast("long").alias("containment_ppb"),
        )
    )


def allpairs_jaccard(
    shingle_df: DataFrame,
    min_jaccard: float = 0.5,
    observations: dict | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard with PREFIX FILTERING (Bayardo et al.
    "Scaling Up All Pairs", PPJoin family) — same answers as
    :func:`jaccard_pairs`, structurally smaller candidate set, no
    frequency cap needed.

    Order every document's shingles rarest-first by global document
    frequency and index only each doc's PREFIX of
    ``|d| - ceil(t·|d|) + 1`` items: any pair with J >= t shares at
    least ``ceil(t·|larger|)`` items, which cannot all hide in the
    larger doc's ``ceil(t·|d|) - 1``-item suffix — so probing FULL
    lists against the PREFIX index finds every qualifying pair. The
    join touches |full| x |prefix| instead of |full| x |full|, and the
    rarest-first order makes surviving index entries the least shared
    ones. Exact verification then scores candidates only.

    Plan: df aggregate (O(vocab)) -> per-doc rank window (one shuffle by
    doc) -> prefix filter -> full x prefix equi-join -> distinct pairs ->
    set-intersection verify. Every stage's shuffle is bounded by the
    index/candidates, never all-pairs.

    Observability: PPJoin's exact verify is inherently superlinear in
    corpus self-similarity (SCALE.md measures 3.4s -> 10.4s at 16x), so
    at 100 TB an operator needs its own gauge for "fall back to LSH".
    Pass ``observations={}`` and the dict is populated with
    ``pyspark.sql.Observation`` objects under ``"candidates"`` (count of
    distinct candidate pairs entering the verify) and ``"survivors"``
    (count passing the threshold) — zero-cost accumulator-style metrics
    piggybacked on the action, no extra job. candidates/doc >> survivors
    means the prefix filter is saturating and LSH should take over.
    """
    keyed = shingle_df.select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    keyed = pin(keyed)
    keyed.count()
    dfreq = keyed.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    with_df = keyed.join(dfreq, "shingle")
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        with_df.withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # Safe suffix bound: floor(t·sz) - 1 <= ceil_true(t·sz) - 1 under ANY
    # float rounding of t·sz (ceil on a float that lands epsilon above an
    # integer would SHORTEN the prefix and silently miss pairs; floor can
    # only lengthen it — still exact, marginally more candidates).
    prefix_len = F.col("sz") - F.floor(F.lit(min_jaccard) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        F.col("doc_id").alias("doc_p"), "shingle"
    )
    cand = (
        keyed.join(prefix, "shingle")
        .filter(F.col("doc_id") != F.col("doc_p"))
        .select(
            F.least("doc_id", "doc_p").alias("doc_a"),
            F.greatest("doc_id", "doc_p").alias("doc_b"),
        )
        .distinct()
    )
    if observations is not None:
        from pyspark.sql import Observation

        cand_obs = Observation("ppjoin_candidates")
        cand = cand.observe(cand_obs, F.count(F.lit(1)).alias("n_candidates"))
        observations["candidates"] = cand_obs
    sets = keyed.groupBy("doc_id").agg(F.collect_set("shingle").alias("hs"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    out = (
        cand.join(
            sets.withColumnsRenamed({"doc_id": "doc_a", "hs": "set_a"}), "doc_a"
        )
        .join(
            sets.withColumnsRenamed({"doc_id": "doc_b", "hs": "set_b"}), "doc_b"
        )
        .withColumn(
            "jaccard", inter / (F.size("set_a") + F.size("set_b") - inter)
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )
    if observations is not None:
        surv_obs = Observation("ppjoin_survivors")
        out = out.observe(surv_obs, F.count(F.lit(1)).alias("n_survivors"))
        observations["survivors"] = surv_obs
    return out


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup PAIRS from SimHash fingerprints — the candidate-generation
    step the bare fingerprint (:func:`simhash`) leaves to the caller,
    done the way Google's near-dup crawler does it (Manku et al., WWW'07):
    split the ``bits``-bit fingerprint into ``bands`` contiguous blocks
    and join documents that agree EXACTLY on at least one block. By
    pigeonhole, any pair within Hamming distance ``bands - 1`` shares a
    block, so ``max_hamming <= bands - 1`` gives 100% recall with zero
    all-pairs work; the final xor+popcount verify touches candidates only.

    Scale: the join is an equi-join on (band, block_value) — O(candidates)
    like LSH bucketing, never O(n²); block width ``bits/bands`` bounds
    expected bucket sizes (15 bits ⇒ 32k buckets per band). One shuffle to
    build fingerprints, one bucket join, map-side verify.
    """
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    fp = simhash(df, text_col, id_col, bits)
    # Persist + eager fill (optimization round 10): the bucket
    # self-join's two sides land in one job and re-ran the whole
    # scan→tokenize→simhash aggregate once per side (racing the cache
    # if lazily persisted — the measured jaccard_pairs defect).
    banded = pin(fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "block",
        F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}"),
    ))
    banded.count()
    a = banded.select(
        "band", "block",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"),
    )
    b = banded.select(
        "band", "block",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"),
    )
    cand = (
        a.join(b, ["band", "block"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.expr("fp_a ^ fp_b"))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    key_chars: int = 24,
    max_edit: int = 8,
) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo, SIGMOD'95) — the
    classic record-linkage blocking strategy: sort the corpus once by a
    normalized blocking key, then compare each record only to its ``window``
    successors in sort order. Candidate count is O(N·w) by construction —
    no bucket can blow up the way a hot LSH band or a stop-word shingle
    can, which makes it the predictable-cost complement to
    :func:`minhash_lsh_pairs`.

    Scale: the global order comes from
    :func:`..operators.ranking.global_row_number` (range shuffle + narrow
    sort — never a single-partition window), and neighbors meet through an
    equi-join on ``rn + k`` for k in 1..w, so the whole operator is one
    range shuffle plus one bounded join. Verification is Levenshtein on
    the normalized key prefix — candidates only.

    Returns (id_a, id_b, edit_distance) for pairs within ``max_edit``.
    """
    from iowa_liquor_sales_spark.operators.ranking import global_row_number

    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        # Coalesce to '' so NULL texts get a concrete (empty) blocking key:
        # otherwise Spark's range sort puts NULLs FIRST while an ANSI
        # ORDER BY defaults NULLS LAST (rank divergence), and
        # levenshtein(NULL, ...) would silently drop those pairs.
        F.substring(
            F.coalesce(normalize_text(text_col), F.lit("")), 1, key_chars
        ).alias("skey"),
    )
    ranked = global_row_number(keyed, ["skey", "doc_id"], out_col="rn")
    probe = ranked.select(
        F.explode(
            F.sequence(F.lit(1), F.lit(window))
        ).alias("k"),
        (F.col("rn")).alias("rn_a"),
        F.col("doc_id").alias("doc_a"),
        F.col("skey").alias("key_a"),
    ).withColumn("rn", F.col("rn_a") + F.col("k"))
    base = ranked.select(
        "rn", F.col("doc_id").alias("doc_b"), F.col("skey").alias("key_b")
    )
    pairs = probe.join(base, "rn").select(
        "doc_a", "doc_b", F.levenshtein("key_a", "key_b").alias("edit_distance")
    )
    return pairs.filter(F.col("edit_distance") <= max_edit).select(
        F.least("doc_a", "doc_b").alias("id_a"),
        F.greatest("doc_a", "doc_b").alias("id_b"),
        F.col("edit_distance").cast("int").alias("edit_distance"),
    )


def _cross_doc_gram_hits(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Shared first half of the Lee-et-al. span family: positioned word
    k-grams (one pure-Catalyst transform + posexplode per doc), grams
    hashed (xxhash64 — shuffle carries 8-byte ints), cross-doc grams
    found via the min(id) != max(id) trick, and the hash join back.
    Returns the hit relation (doc_id, start) consumed by
    :func:`duplicated_spans` (count + merged-span stats) and
    :func:`dup_span_length_histogram` (per-island lengths) — one copy
    of the pipeline so the two can never diverge."""
    df = _ensure_parallelism(df)  # k-gram explode multiplies rows ~|words|x
    words = F.split(F.trim(F.col(text_col)), " +")
    n = F.size(words)
    grams = pin(df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            # guard: sequence(1, 0) is DESCENDING [1,0] in Spark, not
            # empty — docs shorter than k words must yield no grams.
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.concat_ws(
                            " ", F.slice(words, i, F.lit(k))
                        ).alias("gram"),
                    ),
                ),
            ).otherwise(F.expr("array()").cast("array<struct<start:int,gram:string>>"))
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.start").alias("start"),
        F.xxhash64("g.gram").alias("gh"),
    ))
    # persisted: grams feeds both the cross-doc aggregate and the join
    # probe — left lazy, the k-gram explode (the expensive half) ran
    # twice (optimization round 10).
    cross_doc = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("gh")
    )
    return grams.join(cross_doc, "gh").select("doc_id", "start")


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Cross-document exact-substring duplication (the span-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every word ``k``-gram occurring in two or more DISTINCT
    documents marks a duplicated span ``[start, start+k)``; overlapping
    spans merge per document.

    Spark-first plan: one pass emits positioned k-grams via a
    ``transform(sequence(...))`` + ``posexplode`` (pure Catalyst array
    exprs, no Python); cross-doc grams are found with a single hash
    aggregate on ``xxhash64(gram)`` using the ``min(id) <> max(id)``
    trick (no count-distinct); the hash join back is shuffle-on-hash on
    both sides (the scalable choice — the flagged-gram set is O(corpus)
    and must not be broadcast); span merging is a per-doc
    ``sort_array(collect_list)`` + higher-order ``aggregate`` fold —
    gaps-and-islands without a window. Total: 2 wide shuffles (gram agg,
    doc agg) + 1 hash join, all map-side combinable.

    Returns one row per document that contains at least one cross-doc
    duplicated k-gram: ``(doc_id, n_dup_grams, n_spans, dup_tokens)``
    where ``dup_tokens`` counts word positions covered by merged spans.
    """
    hits = _cross_doc_gram_hits(df, text_col, id_col, k)
    per_doc = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_grams"),
        F.sort_array(F.collect_list("start")).alias("starts"),
    )
    # fold state [n_spans, cur_end, covered]; starts are sorted and
    # unique, intervals share length k, so each start either opens a new
    # island (s >= cur_end) or extends the current one.
    merged = F.aggregate(
        F.col("starts"),
        F.array(F.lit(0).cast("long"), F.lit(0).cast("long"),
                F.lit(0).cast("long")),
        lambda acc, s: F.when(
            s >= acc[1],
            F.array(acc[0] + 1, s.cast("long") + k, acc[2] + k),
        ).otherwise(
            F.array(acc[0], s.cast("long") + k,
                    acc[2] + (s.cast("long") + k - acc[1]))
        ),
    )
    return per_doc.select(
        "doc_id",
        "n_dup_grams",
        merged[0].alias("n_spans"),
        merged[2].alias("dup_tokens"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    modulus: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS idea, deterministic
    variant): a chunk boundary falls after every character ``k``-gram
    whose portable 60-bit hash (:func:`~..functions.hashing.hash60`) is
    0 mod ``modulus``, so boundaries track CONTENT, not offsets —
    inserting a byte shifts at most one chunk instead of re-aligning the
    whole document, which is what makes chunk-level dedup robust to
    small edits (expected chunk length ~= ``modulus`` chars).

    Returns one row per chunk: (id, chunk_idx, chunk_len, chunk_hash).

    Scale shape: everything happens INSIDE per-row array expressions —
    boundary positions via a filtered ``transform(sequence(..))`` HOF,
    then per-chunk hashes computed in a second indexed ``transform``
    BEFORE the explode, so the (large) text column is never replicated
    across chunk rows and the operator stays a zero-shuffle map. The
    downstream dedup (group by chunk_hash) is the only exchange.
    """
    g = f"substring({text_col}, p, {k})"
    # conv() returns STRING: without the explicit bigint cast, non-ANSI
    # sessions coerce `string % int` through DOUBLE and shear the low
    # bits of the 60-bit hash — boundaries then differ by ANSI mode.
    gh = (
        f"cast(conv(substring(md5(cast({g} as binary)), 1, 15), 16, 10)"
        f" as bigint)"
    )
    # least() clamp: for documents shorter than k the single probe's
    # k-gram silently shortens to the whole text, so a modulus hit at
    # p would otherwise emit a boundary p+k-1 > length(text) and a
    # phantom chunk longer than the document (inflating downstream
    # byte totals). Mirrored in the DuckDB oracle.
    ends = (
        f"filter(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"p -> IF({gh} % {modulus} = 0, "
        f"least(p + {k - 1}, length({text_col})), -1)), e -> e > 0)"
    )
    prev = "IF(i = 0, 0, element_at(ends_all, i))"
    chunk_txt = f"substring({text_col}, {prev} + 1, e - {prev})"
    chunks = (
        f"filter(transform(ends_all, (e, i) -> named_struct("
        f"'chunk_idx', i, "
        f"'chunk_len', e - {prev}, "
        f"'chunk_hash', cast(conv(substring(md5(cast({chunk_txt} as binary)), 1, 15), 16, 10) as bigint)"
        f")), s -> s.chunk_len > 0)"
    )
    return (
        df.withColumn(
            "ends_all",
            F.expr(
                f"concat({ends}, array(length({text_col})))"
            ).cast("array<bigint>"),
        )
        .select(F.col(id_col), F.inline(F.expr(chunks)))
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("chunk_len").cast("long").alias("chunk_len"),
            F.col("chunk_hash").cast("long").alias("chunk_hash"),
        )
    )


def minhash_calibration_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """MinHash estimator calibration — the observability report that
    answers "can I trust the signature-only Jaccard estimate at my
    signature width?": for every LSH candidate pair, compare the
    SIGNATURE estimate (fraction of agreeing minhash components — the
    unbiased estimator, Broder 1997) against the EXACT Jaccard, then
    aggregate |error| per exact-Jaccard decile. A drifting decile row
    is the cue to widen signatures (or re-band) BEFORE trusting
    signature-only dedup decisions at 100 TB, where the exact verify is
    the expensive stage this estimate would replace.

    Everything integer: est_ppm = matches·1e6 div k, exact_ppm =
    |A∩B|·1e6 div |A∪B|, error = |est−exact| — engine-portable, no
    float division anywhere. Candidates come from the same banding as
    :func:`minhash_lsh_pairs` (never all pairs); the report output is
    O(11) rows.

    Returns (jac_decile, n_pairs, sum_abs_err_ppm, mean_abs_err_ppm).
    """
    sh = shingles(df, text_col, id_col, n=n)
    a_, b_ = affine_params(num_hashes)
    p = MERSENNE31
    hashed = sh.select(
        "doc_id",
        (hash60("shingle") % F.lit(p)).alias("h31"),
        F.xxhash64("shingle").alias("h64"),
    )
    per_doc = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a_[i]) * F.col("h31") + F.lit(b_[i])) % F.lit(p)).alias(
                f"sig_{i}"
            )
            for i in range(num_hashes)
        ],
        F.collect_set("h64").alias("hs"),
    )
    # Same persist+materialize contract as minhash_lsh_pairs: the
    # signature relation feeds the band self-join and both sides of the
    # pair join.
    per_doc = pin(per_doc)
    per_doc.count()
    buckets = minhash_band_buckets(
        per_doc, rows_per_band=rows_per_band, num_hashes=num_hashes
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sides = per_doc.select(
        "doc_id",
        F.array(*[F.col(f"sig_{i}") for i in range(num_hashes)]).alias("sig"),
        "hs",
    )
    joined = (
        cand.join(
            sides.withColumnsRenamed({"doc_id": "doc_a", "sig": "sig_a", "hs": "set_a"}),
            "doc_a",
        )
        .join(
            sides.withColumnsRenamed({"doc_id": "doc_b", "sig": "sig_b", "hs": "set_b"}),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast("long")
    union = (
        F.size(F.col("set_a")) + F.size(F.col("set_b"))
    ).cast("long") - inter
    pairs = joined.select(
        F.expr(
            f"aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)),"
            f" 0L, (acc, v) -> acc + v) * 1000000 div {num_hashes}"
        ).alias("est_ppm"),
        (inter * F.lit(1_000_000)).alias("_in"),
        union.alias("_un"),
    ).select(
        "est_ppm",
        F.expr("_in div _un").alias("exact_ppm"),
    )
    err = F.abs(F.col("est_ppm") - F.col("exact_ppm"))
    return (
        pairs.select(
            F.expr("exact_ppm div 100000").cast("int").alias("jac_decile"),
            err.alias("err"),
        )
        .groupBy("jac_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("err").cast("long").alias("sum_abs_err_ppm"),
            F.expr("sum(err) div count(1)").cast("long").alias("mean_abs_err_ppm"),
        )
    )


def lsh_band_plan(
    spark,
    n_hashes: int = 128,
    target_jaccard_ppm: int = 500_000,
) -> DataFrame:
    """MinHash-LSH tuning table: every (bands, rows) factorization of
    the signature length with its S-curve threshold ``(1/b)^(1/r)`` —
    the similarity where a pair's collision probability crosses ~50% —
    plus the plan whose threshold sits closest to the target. The
    pre-flight calculation behind :func:`minhash_lsh_pairs`' ``bands``
    knob, companion to the measured :func:`minhash_calibration` report
    (plan first, verify after).

    Thresholds are ``floor(pow(1/b, 1/r)·1e6)`` — one libm pow per
    O(divisors) row, the decayed-leaderboard precedent. Pure O(d(n))
    local computation; no data touched.
    """
    divs = [b for b in range(1, n_hashes + 1) if n_hashes % b == 0]
    base = spark.createDataFrame(
        [(b, n_hashes // b) for b in divs], "bands int, rows_per_band int"
    )
    thr = F.floor(
        F.pow(
            F.lit(1.0) / F.col("bands").cast("double"),
            F.lit(1.0) / F.col("rows_per_band").cast("double"),
        )
        * F.lit(1e6)
    ).cast("long")
    t = base.select("bands", "rows_per_band", thr.alias("threshold_ppm"))
    best = t.select(
        F.min(
            F.struct(
                F.abs(
                    F.col("threshold_ppm") - F.lit(int(target_jaccard_ppm))
                ).alias("gap"),
                F.col("bands").alias("b"),
            )
        ).alias("bst")
    )
    return (
        t.crossJoin(F.broadcast(best))
        .select(
            "bands",
            "rows_per_band",
            "threshold_ppm",
            (F.col("bands") == F.col("bst.b")).alias("recommended"),
        )
        .orderBy("bands")
    )


def split_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = "\n\n",
    words_per_chunk: int | None = None,
    min_words: int = 1,
) -> DataFrame:
    """Explode documents into PARAGRAPH-grain rows (doc_id, para_idx,
    para) — the unit of the Dolma/CCNet within-and-across-document
    near-dup pass (reference scope: the flat-table model at
    /root/reference/src/transform.py has no sub-document grain at all;
    this is engine surface for the LLM-pipeline brief).

    Two segmentations, one output shape:

    - ``sep`` (default blank line): real paragraph boundaries;
    - ``words_per_chunk``: fixed word-count chunks for single-line
      corpora (and for CDC-style bounded units regardless of
      formatting) — chunk i covers words [i*W+1, i*W+W].

    ``para_idx`` is the 0-based position of the unit in the ORIGINAL
    document (pre-filter), so downstream span bookkeeping survives the
    ``min_words`` drop. ``sep`` is a LITERAL separator (regex-quoted
    internally — a "|+|" or "." separator splits on those exact
    characters, not on a regex). Word counting for ``min_words`` uses
    trimmed ``' +'`` tokenization (empty paragraphs count 0 words, runs
    of spaces don't inflate the count — the same convention as the
    span operators below). Zero shuffle: split/transform/posexplode
    only.
    """
    if (sep is None) == (words_per_chunk is None):
        raise ValueError("exactly one of sep / words_per_chunk required")
    if sep is not None:
        # \Q..\E quotes the separator: F.split takes a Java REGEX, and a
        # literal like "|+|" would otherwise be a pattern-syntax error
        # (or silently split on every character for ".")
        units = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    else:
        w = int(words_per_chunk)
        ws = F.split(F.col(text_col), " ")
        units = F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size(ws) - 1) / F.lit(w)).cast("int"),
            ),
            lambda i: F.concat_ws(
                " ", F.slice(ws, i * w + 1, F.lit(w))
            ),
        )
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(units).alias("para_idx", "para"),
    )
    n_words = F.when(F.length(F.trim(F.col("para"))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("para")), " +"))
    )
    return out.filter(n_words >= int(min_words))


def paragraph_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = "\n\n",
    words_per_chunk: int | None = None,
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 4,
    min_jaccard: float = 0.8,
    min_words: int = 3,
    id_stride: int = 1_000_000,
    cross_doc_only: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate detection at the PARAGRAPH grain —
    document-level LSH misses boilerplate that repeats as a paragraph
    inside otherwise-distinct documents (the Dolma/CCNet motivation for
    sub-document dedup; ``curation.dedup_lines`` catches only EXACT
    unit copies, this is its approximate companion).

    Composition, not new machinery: :func:`split_paragraphs` →
    composite unit id ``doc_id * id_stride + para_idx`` →
    :func:`minhash_lsh_pairs` (same md5/affine signature conventions,
    banded buckets, candidate-only exact verification) → decode back to
    (doc_a, para_a, doc_b, para_b, jaccard). ``cross_doc_only`` drops
    within-document pairs (self-boilerplate) when only cross-corpus
    leakage matters. Paragraph counts per doc must stay below
    ``id_stride`` (raise it for pathological documents).

    Scale shape is inherited: shuffles are keyed on shingle / unit id /
    (band, bucket); candidates only are verified; nothing is O(docs²)
    — and the unit being the paragraph SHRINKS per-unit shingle sets,
    so signature aggregation is cheaper per row than doc-grain LSH.
    """
    paras = split_paragraphs(
        df,
        text_col,
        id_col,
        sep=sep,
        words_per_chunk=words_per_chunk,
        min_words=min_words,
    )
    units = paras.select(
        # cast BEFORE the multiply: an IntegerType id column would
        # compute doc_id * stride in int32 — ANSI overflow error at
        # doc_id >= 2148 under the default stride (silent wraparound
        # with ANSI off)
        (
            F.col("doc_id").cast("long") * F.lit(int(id_stride))
            + F.col("para_idx")
        ).alias("unit_id"),
        F.col("para"),
    )
    pairs = minhash_lsh_pairs(
        units,
        "para",
        "unit_id",
        n=n,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        min_jaccard=min_jaccard,
    )
    s = int(id_stride)
    # integer `div`, not float division: composite ids above 2^53 would
    # shear through a double on the way back to (doc, para)
    out = pairs.select(
        F.expr(f"CAST(doc_a div {s} AS BIGINT)").alias("doc_a"),
        F.expr(f"CAST(doc_a % {s} AS INT)").alias("para_a"),
        F.expr(f"CAST(doc_b div {s} AS BIGINT)").alias("doc_b"),
        F.expr(f"CAST(doc_b % {s} AS INT)").alias("para_b"),
        "jaccard",
    )
    if cross_doc_only:
        out = out.filter(F.col("doc_a") != F.col("doc_b"))
    return out


def dup_span_length_histogram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Length HISTOGRAM of merged cross-document duplicated spans — the
    knob-setting curve the Lee-et-al. exact-substring family needs:
    :func:`duplicated_spans` tells you HOW MUCH of each doc is
    duplicated; this tells you the length DISTRIBUTION of those
    matches, which is what picks the minimum-match-length threshold for
    a dedup pass (suffix-array pipelines read the same curve off the
    LCP array; here it falls out of the k-gram islands with no suffix
    structure at all).

    Same two-shuffle dataflow as duplicated_spans (positioned k-grams →
    cross-doc gram filter via min!=max → per-doc sorted starts); the
    per-doc fold then emits each merged island's LENGTH (struct-state
    higher-order aggregate — pure Catalyst, no window, no Python), and
    one final O(distinct lengths) aggregate builds the histogram.

    Returns (span_len, n_spans, n_docs) — span_len in covered word
    positions, one row per observed length.
    """
    starts = (
        _cross_doc_gram_hits(df, text_col, id_col, k)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("starts"))
    )
    # struct-state fold: (lens, cur_start, cur_end); starts sorted and
    # unique, islands merge exactly as in duplicated_spans, but here
    # each closed island APPENDS its length instead of bumping a count.
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("lens"),
        F.lit(0).cast("long").alias("cs"),
        F.lit(0).cast("long").alias("ce"),
    )
    lens = F.aggregate(
        F.col("starts"),
        init,
        lambda acc, s: F.when(
            s >= acc["ce"],
            F.struct(
                F.when(
                    acc["ce"] > 0,
                    F.concat(
                        acc["lens"], F.array(acc["ce"] - acc["cs"])
                    ),
                )
                .otherwise(acc["lens"])
                .alias("lens"),
                s.cast("long").alias("cs"),
                (s.cast("long") + k).alias("ce"),
            ),
        ).otherwise(
            F.struct(
                acc["lens"].alias("lens"),
                acc["cs"].alias("cs"),
                (s.cast("long") + k).alias("ce"),
            )
        ),
        lambda acc: F.when(
            acc["ce"] > 0,
            F.concat(acc["lens"], F.array(acc["ce"] - acc["cs"])),
        ).otherwise(acc["lens"]),
    )
    return (
        starts.select("doc_id", F.explode(lens).alias("span_len"))
        .groupBy("span_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )
