"""Join & integrity operators (SURVEY §2.6 J1/J2).

The reference enforces integrity declaratively in Postgres — PK constraints
and five FKs from fact_sales to the dims (IowaLiquor-RDS.session.sql:67-73).
Spark has no constraint enforcement, so the engine provides the equivalent
as explicit validation operators, and at query time plans fact⋈dim as
broadcast hash joins (dims are tiny relative to a 100 TB fact table, so no
fact-side shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from iowa_liquor_sales_spark.caching import pin


def fk_violations(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` — the anti-join
    equivalent of a Postgres FK check (reference J1). Broadcast the dim:
    the check streams the fact table once with zero shuffle."""
    return fact.join(
        broadcast(dim.select(dim_key)),
        fact[fact_key] == dim[dim_key],
        "left_anti",
    )


def pk_duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key groups violating PK uniqueness (reference J2,
    create_table.sql:2). Partial aggregation means only one row per key per
    partition shuffles."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def semi_join(left: DataFrame, right: DataFrame, on, broadcast_right: bool = True) -> DataFrame:
    """EXISTS-style filtering join; broadcast by default (dim-sized right)."""
    r = broadcast(right) if broadcast_right else right
    return left.join(r, on, "left_semi")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-busting equi-join: fan the hot left keys across ``n_salts``
    shuffle partitions by salting, and replicate each right row to all
    salts. Deterministic salt (hash of a stable discriminator column set)
    so re-runs shuffle identically.

    Use when one join key holds a disproportionate share of rows and AQE's
    skew splitting is unavailable (e.g. ShuffledHashJoin, or pre-3.x
    clusters). With AQE on (engine default) prefer letting
    ``spark.sql.adaptive.skewJoin`` handle it — this operator is the
    explicit fallback and the building block for skewed aggregations.
    """
    salt = (F.xxhash64(*[F.col(c) for c in left.columns]) % n_salts).cast("int")
    salted_left = left.withColumn("__salt", F.pmod(salt, F.lit(n_salts)))
    salted_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_left.join(
        salted_right,
        (salted_left[left_key] == salted_right[right_key])
        & (salted_left["__salt"] == salted_right["__salt"]),
        how,
    )
    return out.drop("__salt")


def star_join(
    fact: DataFrame, dims: list[tuple[DataFrame, object]], broadcast_dims: bool = True
) -> DataFrame:
    """Chain fact ⋈ dim1 ⋈ dim2 ... with broadcast hash joins.

    ``dims`` is a list of (dim_df, join_condition_or_key). With every dim
    broadcast, the physical plan is a single fact-scan stage with N
    BroadcastHashJoins inside one WholeStageCodegen — the canonical 100 TB
    star-query shape (no shuffle until the final aggregate).
    """
    out = fact
    for dim, cond in dims:
        out = out.join(broadcast(dim) if broadcast_dims else dim, cond)
    return out


# ---------------------------------------------------------------- bloom


def _bloom_positions(key, num_hashes: int, num_bits: int):
    """array<long> of the bit positions a key sets. Unlike Count-Min/KMV
    (whose sketch CONTENT is oracle-checked, so they pay for the portable
    md5 ``hash60``), a Bloom runtime filter is correct iff it has no
    false negatives — the post-join result equals the plain join for ANY
    hash function — so this uses JVM-intrinsic ``xxhash64`` with integer
    seeds: no string concat, no md5, stays in whole-stage codegen
    (measured ~4x on the sf0.1 probe pass)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)).cast("long")
            for i in range(num_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_hashes: int = 3,
    num_bits: int = 1 << 16,
) -> list[int]:
    """Build a Bloom-filter bitmap over ``df[key_col]`` and return it as
    ``num_bits / 64`` int64 words. The reduction is a map-side-combinable
    ``bit_or`` groupBy (at most ``num_bits/64`` rows shuffle), and only
    the finished O(num_bits) sketch is collected — the same
    driver-collects-a-sketch contract as a broadcast-join build side.
    """
    words = (
        df.select(
            F.explode(
                _bloom_positions(F.col(key_col), num_hashes, num_bits)
            ).alias("p")
        )
        .select(
            F.expr("p div 64").cast("int").alias("w"),
            F.expr("cast(1 as bigint) << cast(p % 64 as int)").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    out = [0] * (num_bits // 64)
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    words: list[int],
    num_hashes: int = 3,
    num_bits: int = 1 << 16,
) -> DataFrame:
    """Keep only rows whose key *may* be in the Bloom filter (no false
    negatives). This is the runtime-filter / semi-join-reduction pattern:
    at 100 TB, probing the tiny bitmap BEFORE the shuffle join discards
    the bulk of non-matching fact rows at scan time, so the exchange
    carries only plausible matches. The bitmap is embedded as a foldable
    array literal (no cross join, no extra plan node); the probe is pure
    int64 shift/mask in codegen, fused into the scan's filter stage."""
    probed = df.withColumn("__bf", F.lit(words)).withColumns(
        {
            f"__p{i}": F.pmod(
                F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)
            )
            for i in range(num_hashes)
        }
    )
    hit = F.lit(True)
    for i in range(num_hashes):
        hit = hit & F.expr(
            f"(element_at(__bf, cast(__p{i} div 64 as int) + 1)"
            f" >> cast(__p{i} % 64 as int)) & 1 = 1"
        )
    return probed.filter(hit).drop(
        "__bf", *[f"__p{i}" for i in range(num_hashes)]
    )


def fuzzy_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 3,
    observations: dict | None = None,
    hist_filter: bool = True,
    pair_source: str = "passjoin",
    auto_max_cand_per_name: int = 50,
    lsh_num_hashes: int = 32,
    lsh_rows_per_band: int = 1,
    lsh_min_jaccard: float = 0.2,
    lsh_shingle_n: int = 3,
    lsh_max_bucket: int | None = 512,
    recall_sample_mod: int | None = None,
) -> DataFrame:
    """Fuzzy self-match over a string dictionary: pairs of DISTINCT
    values within ``max_dist`` Levenshtein edits, each weighted by its
    row count — the entity-resolution canonicalization flow (match the
    name DICTIONARY, not the row set; the dictionary is orders of
    magnitude smaller than the table).

    Never all-pairs: blocking is PassJoin-style pigeonhole SEGMENT
    matching (Li, Deng, Feng: "PassJoin: a partition-based method for
    similarity joins", PVLDB 2011) layered on the length band. The
    shorter name of a candidate pair is partitioned into ``max_dist+1``
    contiguous segments; at most ``max_dist`` edits cannot touch all of
    them, so some segment survives VERBATIM in the longer name, and the
    net indel shift of any prefix is at most ``max_dist`` positions.
    Hence the equi-join key ``(len_a, seg_id, seg_text)`` — index side
    emits each name's d+1 segments, probe side emits every substring of
    the longer name that could be a surviving segment of a partner of
    length ``la`` (la in the length band, segment scheme of la, start
    shifted by at most d) — is PROVABLY COMPLETE, and the oracle runs
    prefilter-free to prove it. Names shorter than d+1 chars get
    zero-length segments whose empty seg_text degrades to the length
    band automatically (tiny class, still complete). The length band
    alone collapses to near-all-pairs within a band when the dictionary
    concentrates at a few lengths (real name dictionaries do); segment
    blocking prunes those bands by exact-substring agreement. Edit
    distance runs only on distinct surviving candidate pairs.

    Second-level filter (between the segment equi-join and the
    Levenshtein verify): a character-HISTOGRAM count filter. Each name
    carries a 16-bucket char-frequency vector (chars hashed into
    buckets); one edit changes the true histogram by at most 2 in L1
    (substitution: -1/+1, indel: 1), and bucketing only merges counts —
    never increases L1 — so ``lev(a,b) >= bucketed_L1 / 2`` and
    dropping pairs with ``bucketed_L1 > 2*d`` is provably complete
    (same family as the q-gram COUNT filter of Gravano et al., VLDB
    2001, but O(1)-width per name). It runs BEFORE the candidate
    distinct, so on concentrated dictionaries (many same-length names,
    where segment blocking alone degrades toward the length band) it
    prunes both the distinct shuffle and the verify.

    Pass ``observations={}`` and the dict is populated with
    ``pyspark.sql.Observation`` objects under ``"candidates"`` (distinct
    pairs entering the edit-distance verify) and ``"matches"`` — the
    same counters `dedup.allpairs_jaccard` exposes, so a 100 TB run can
    distinguish candidate blowup (blocking failing on a pathological
    dictionary) from verify-stage cost. FALLBACK TRIGGER: on hex-like
    dictionaries concentrated at a few lengths, candidates/name still
    grows with dictionary size (segment agreement is exact-substring
    luck, and luck scales with names-per-length) — when candidates
    exceed ~``auto_max_cand_per_name`` per name, stop fuzzy-joining
    the dictionary wholesale and switch the pair source to q-gram
    MinHash-LSH over the names (``dedup.minhash_lsh_pairs`` with
    char-``lsh_shingle_n``-gram shingles — default TRIgrams, the
    tiny-alphabet mega-bucket remedy, SCALE.md round 7), keeping this
    verify stage unchanged —
    the same escalation `dedup.allpairs_jaccard` documents.

    ``pair_source`` wires that escalation as code, not prose:

    - ``"passjoin"`` (default): segment blocking as above — provably
      complete, bit-identical to every prior round.
    - ``"lsh"``: candidates from char-``lsh_shingle_n``-gram
      MinHash-LSH (``lsh_num_hashes`` signatures,
      ``lsh_rows_per_band`` rows/band, ``lsh_min_jaccard`` floor,
      ``lsh_max_bucket`` hot-bucket cap), length-banded, then the SAME
      Levenshtein verify. Probabilistic recall (banding can miss a
      low-Jaccard pair; names shorter than the shingle width produce
      no gram and are skipped; capped buckets drop their pairs) — the
      deliberate trade when a pathological dictionary makes complete
      blocking explode. The bucket cap matters on tiny alphabets:
      hex-like names collapse the gram universe, minhash values
      concentrate, and uncapped mega-buckets pay a k² pre-distinct
      fanout the final candidate count never shows (measured 212x wall
      blowup at 128k names before the cap — SCALE.md round-7 probe).
    - ``"auto"``: build the PassJoin candidate set, COUNT it (one
      distributed count over the persisted O(candidates) relation —
      the measurement IS the trigger), and if it exceeds
      ``auto_max_cand_per_name × |dictionary|`` regenerate candidates
      via the LSH source instead. ``observations["pair_source"]``
      records the decision.

    ``hist_filter=False`` disables the histogram count filter (the
    scale probe uses it to attribute blocking power per level).

    ``recall_sample_mod``: when the LSH source is in play (``"lsh"``,
    or ``"auto"`` after escalation), the probabilistic arm's recall is
    otherwise UNMEASURED — a 100 TB run would fly blind on how many
    true pairs banding dropped. Set an integer ``mod`` and the operator
    measures it: a deterministic ~1/mod hash-sample of names re-runs
    the COMPLETE PassJoin source with the sample as index side (cost
    proportional to the sample, completeness guaranteed for every pair
    whose shorter member is sampled), verifies with the same
    Levenshtein bound, and counts how many of those true pairs the LSH
    candidates recovered. ``observations["recall_sample"]`` gets
    ``{"expected": n_true_sampled, "found": n_recovered}`` — a measured
    recall estimate for the whole pair population (the sample is
    uniform over shorter-pair endpoints). Computed eagerly (two counts
    over sample-bounded relations); leave ``None`` to skip. Ignored on
    the PassJoin path, whose recall is provably 1.
    """
    d = max_dist
    nseg = d + 1
    nbuck = 16
    hist = (
        f"aggregate(split(name, ''), array_repeat(0, {nbuck}),"
        f" (acc, c) -> if(c = '', acc,"
        f" transform(acc, (v, i) ->"
        f" if(i = pmod(hash(c), {nbuck}), v + 1, v))))"
    )
    names = (
        df.groupBy(F.col(col).alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .withColumn("len", F.length("name"))
        .withColumn("hist", F.expr(hist))
    )
    if pair_source not in ("passjoin", "auto", "lsh"):
        raise ValueError(f"unknown pair_source: {pair_source!r}")
    use_lsh = pair_source == "lsh"
    # Segment scheme for a length-l name: the first (d+1-k) segments get
    # floor(l/(d+1)) chars, the last k = l mod (d+1) get one extra — a
    # pure function of (l, seg_id) shared by index and probe sides, so
    # the position constraint rides inside the (len_a, seg_id) join key.
    seg_start = (
        f"(1 + i * ({{l}} div {nseg})"
        f" + greatest(0, i - ({nseg} - {{l}} % {nseg})))"
    )
    seg_len = (
        f"(({{l}} div {nseg})"
        f" + if(i >= {nseg} - {{l}} % {nseg}, 1, 0))"
    )
    def _passjoin_cand(idx_names, probe_names):
        # Two-sided PassJoin candidate generation: ``idx_names`` emits
        # its d+1 segments (the SHORTER side of every found pair, by the
        # orientation filter), ``probe_names`` emits every admissible
        # surviving-segment substring. The main path calls it with
        # (names, names) — the self-join; the sampled-recall probe calls
        # it with a hash-sampled index side, which keeps the candidate
        # set proportional to the sample while staying PROVABLY COMPLETE
        # for pairs whose shorter member is sampled.
        a = idx_names.select(
            F.col("name").alias("name_a"),
            F.col("n_rows").alias("n_rows_a"),
            F.col("len").alias("len_a"),
            F.col("hist").alias("hist_a"),
            F.expr(
                f"inline(transform(sequence(0, {d}), i -> named_struct("
                f"'seg_id', i, "
                f"'seg_text', substring(name, {seg_start.format(l='len')}, "
                f"{seg_len.format(l='len')}))))"
            ),
        )
        # Probe side: for each partner length la in the band, each
        # segment of la's scheme, each admissible prefix shift, the
        # substring of name_b the surviving segment would occupy. The
        # shift window is the multi-match-aware PassJoin bound: with
        # D = len_b - la, a shift of s forces >= |s| indels before the
        # surviving segment and >= |D - s| edits after it (the suffix
        # length difference must be made up), two DISJOINT edit sets, so
        # |s| + |D - s| <= d — i.e.
        # s in [-((d - D) div 2), (d + D) div 2], a (d+1)-wide window
        # instead of the naive 2d+1. Distinct collapses the (frequent)
        # shift duplicates before the join.
        b = (
            probe_names.select(
                F.col("name").alias("name_b"),
                F.col("n_rows").alias("n_rows_b"),
                F.col("len").alias("len_b"),
                F.col("hist").alias("hist_b"),
                F.explode(
                    F.expr(f"sequence(greatest(len - {d}, 0), len)")
                ).alias("la"),
            )
            .select(
                "name_b",
                "n_rows_b",
                "len_b",
                "hist_b",
                "la",
                F.explode(F.expr(f"sequence(0, {d})")).alias("i"),
            )
            .select(
                "name_b",
                "n_rows_b",
                "len_b",
                "hist_b",
                "la",
                F.col("i").alias("seg_id"),
                F.expr(seg_start.format(l="la")).alias("p"),
                F.expr(seg_len.format(l="la")).alias("sl"),
                F.explode(
                    F.expr(
                        f"sequence(-(({d} - (len_b - la)) div 2), "
                        f"({d} + (len_b - la)) div 2)"
                    )
                ).alias("sh"),
            )
            .filter(
                (F.col("p") + F.col("sh") >= 1)
                & (
                    F.col("p") + F.col("sh") + F.col("sl") - 1
                    <= F.col("len_b")
                )
            )
            .select(
                "name_b",
                "n_rows_b",
                "len_b",
                "hist_b",
                "la",
                "seg_id",
                F.expr("substring(name_b, p + sh, sl)").alias("seg_text"),
            )
            .distinct()
        )
        orient = (F.col("len_a") < F.col("len_b")) | (
            (F.col("len_a") == F.col("len_b"))
            & (F.col("name_a") < F.col("name_b"))
        )
        hist_l1 = F.expr(
            "aggregate(zip_with(hist_a, hist_b, (x, y) -> abs(x - y)),"
            " 0, (acc, v) -> acc + v)"
        )
        return (
            a.join(
                b,
                (a["len_a"] == b["la"])
                & (a["seg_id"] == b["seg_id"])
                & (a["seg_text"] == b["seg_text"]),
            )
            .filter(orient)
            .filter(hist_l1 <= 2 * d if hist_filter else F.lit(True))
            .select("name_a", "name_b", "n_rows_a", "n_rows_b")
            .distinct()
        )

    cand = _passjoin_cand(names, names)
    if pair_source == "auto":
        # The trigger is a MEASUREMENT, not a guess: persist the
        # O(candidates) pair relation (4 small columns — the expensive
        # explode/join subtree runs once) and count it distributed. If
        # blocking has degraded past the budget, throw the complete
        # candidate set away and regenerate probabilistically. When the
        # measurement STAYS on PassJoin the persisted relation is
        # deliberately retained for the session — the returned (lazy)
        # verify plan reads it, so an eager unpersist here would just
        # re-run the explode/join subtree; same documented cache-
        # retention idiom as dedup.minhash_lsh_pairs and
        # binary_ops.dhash_hamming_pairs (released when the enclosing
        # caching.query_scope exits).
        cand = pin(cand)
        n_cand = cand.count()
        n_names = names.count()
        if n_cand > auto_max_cand_per_name * max(n_names, 1):
            cand.unpersist()
            use_lsh = True
    if use_lsh:
        # Escalation source: char-n-gram MinHash-LSH over the name
        # dictionary (default lsh_shingle_n=3 -> TRIgrams: wider gram
        # universe, the tiny-alphabet mega-bucket remedy). Names are
        # char-spaced so the word-shingle machinery of
        # minhash_lsh_pairs yields character n-grams;
        # min_jaccard is a loose floor (the Levenshtein verify below is
        # the real filter), and the length band is re-applied — LSH
        # buckets don't know about it.
        from .dedup import minhash_lsh_pairs

        spaced = names.select(
            "name", F.concat_ws(" ", F.split("name", "")).alias("spaced")
        )
        lp = minhash_lsh_pairs(
            spaced,
            "spaced",
            "name",
            n=lsh_shingle_n,
            num_hashes=lsh_num_hashes,
            rows_per_band=lsh_rows_per_band,
            min_jaccard=lsh_min_jaccard,
            max_bucket=lsh_max_bucket,
        ).select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
        side = names.select("name", "n_rows", "len")
        j = (
            lp.join(
                side.withColumnsRenamed(
                    {"name": "x", "n_rows": "nx", "len": "lx"}
                ),
                "x",
            )
            .join(
                side.withColumnsRenamed(
                    {"name": "y", "n_rows": "ny", "len": "ly"}
                ),
                "y",
            )
            .filter(F.abs(F.col("lx") - F.col("ly")) <= d)
        )
        fwd = (F.col("lx") < F.col("ly")) | (
            (F.col("lx") == F.col("ly")) & (F.col("x") < F.col("y"))
        )
        cand = j.select(
            F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("name_a"),
            F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("name_b"),
            F.when(fwd, F.col("nx")).otherwise(F.col("ny")).alias("n_rows_a"),
            F.when(fwd, F.col("ny")).otherwise(F.col("nx")).alias("n_rows_b"),
        )
    if observations is not None:
        observations["pair_source"] = "lsh" if use_lsh else "passjoin"
    if use_lsh and recall_sample_mod and observations is not None:
        from ..functions.hashing import hash60

        def _sampled(col):
            return F.pmod(hash60(col), F.lit(recall_sample_mod)) == 0

        # Ground truth for the sample: complete PassJoin with the
        # sampled names as index side (finds EVERY true pair whose
        # shorter member is sampled), verified by the same bound.
        truth = pin(
            _passjoin_cand(names.filter(_sampled(F.col("name"))), names)
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= max_dist)
            .select("name_a", "name_b")
        )
        got = (
            cand.filter(_sampled(F.col("name_a")))
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= max_dist)
            .select("name_a", "name_b")
        )
        expected = truth.count()
        found = truth.join(got, ["name_a", "name_b"], "left_semi").count()
        truth.unpersist()
        observations["recall_sample"] = {
            "expected": expected,
            "found": found,
        }
    if observations is not None:
        from pyspark.sql import Observation

        cand_obs = Observation("fuzzy_candidates")
        cand = cand.observe(cand_obs, F.count(F.lit(1)).alias("n"))
        observations["candidates"] = cand_obs
    out = (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
    )
    if observations is not None:
        match_obs = Observation("fuzzy_matches")
        out = out.observe(match_obs, F.count(F.lit(1)).alias("n"))
        observations["matches"] = match_obs
    return (
        out.select(
            "name_a",
            "name_b",
            F.col("dist").cast("int").alias("dist"),
            "n_rows_a",
            "n_rows_b",
        )
    )


def resolve_entities(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    pair_source: str = "passjoin",
) -> DataFrame:
    """End-to-end entity resolution over a string column: map every
    distinct value to ONE canonical surface form — the classic
    match → cluster → survive flow (dirty dimension canonicalization,
    author/brand/store-name consolidation before a star-schema load).

    Three stages, each already the scale-safe primitive:

    1. match: :func:`fuzzy_pairs` (PassJoin segment blocking +
       histogram count filter) finds every distinct-value pair within
       ``max_dist`` Levenshtein edits;
    2. cluster: :func:`..graph.connected_components` (log-round
       pointer jumping) labels each matched value with its component's
       MINIMUM value — transitive closure, so A~B~C canonicalize
       together even when A and C don't match directly;
    3. survive: per cluster, the canonical form is the value with the
       LARGEST row count (ties to the lexicographically smaller) — the
       "most-used spelling wins" survivorship rule, one min_by over a
       (-n_rows, name) struct.

    Returns (name, canonical, n_rows) for every distinct input value;
    values with no fuzzy partner are their own canonical (the left
    join + coalesce keeps singletons out of the CC entirely, so the
    iterative stage only touches the matched subgraph).

    ``pair_source`` is forwarded to :func:`fuzzy_pairs` — pass
    ``"auto"`` on dictionaries that may be pathologically concentrated
    and the match stage escalates to LSH blocking by measurement.
    """
    from .graph import connected_components

    names = df.groupBy(F.col(col).alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    pairs = fuzzy_pairs(
        df, col, max_dist=max_dist, pair_source=pair_source
    ).select("name_a", "name_b")
    comp = connected_components(pairs, src="name_a", dst="name_b")
    labeled = (
        names.join(comp, names["name"] == comp["node"], "left")
        .select(
            "name",
            "n_rows",
            F.coalesce(F.col("component"), F.col("name")).alias("cluster"),
        )
    )
    winners = labeled.groupBy("cluster").agg(
        F.min_by(
            "name", F.struct((-F.col("n_rows")).alias("neg"), F.col("name"))
        ).alias("canonical")
    )
    return labeled.join(winners, "cluster").select("name", "canonical", "n_rows")
