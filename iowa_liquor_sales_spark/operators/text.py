"""Text-analysis operators for a training-data pipeline: quality scoring,
token counting, language-ID heuristic, and document fingerprinting.

Everything is built from Catalyst string/array expressions (split,
regexp_count, transform, array_intersect, md5) — no Python in the row path,
so these run at scan speed over a 100 TB corpus and compose with the dedup
operators (same shingling/hash primitives).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.caching import pin

# Tiny stopword marker profiles for the language-ID heuristic. On corpora
# where the vocabularies genuinely differ these separate well; the synthetic
# test corpus shares one vocabulary across its `lang` labels, so the
# heuristic's *prediction quality* is meaningless there — the operator is
# still exercised end-to-end and oracle-checked for determinism.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "ne"],
    "es": ["el", "los", "las", "y", "no"],
}

# BPE-ish tokenization: runs of letters, runs of digits, or single
# non-alphanumeric-non-space symbols. Same regex evaluated by the oracle.
TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def quality_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: char length, word/distinct-word
    counts, type-token ratio, mean word length, punctuation ratio."""
    w = words(text_col)
    n_words = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    n_chars = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[a-z0-9 ]", ""))
    return df.select(
        F.col(id_col),
        n_chars.cast("int").alias("n_chars"),
        n_words.cast("int").alias("n_words"),
        n_distinct.cast("int").alias("n_distinct_words"),
        (n_distinct.cast("double") / n_words).alias("type_token_ratio"),
        ((n_chars - n_words + 1).cast("double") / n_words).alias("mean_word_len"),
        (n_punct.cast("double") / n_chars).alias("punct_ratio"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace and BPE-ish token counts per document."""
    return df.select(
        F.col(id_col),
        F.size(words(text_col)).cast("int").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_PATTERN))
        .cast("int")
        .alias("re_tokens"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID: score = number of distinct marker
    words present; winner by score with a fixed tie-break order
    ('unk' when no marker matches)."""
    w = F.array_distinct(words(text_col))
    scores = {
        lang: F.size(
            F.array_intersect(w, F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.lit("unk")
    best_score = F.lit(0)
    # Strict greater-than + priority iteration order: the winner is the
    # first language (in LANG_MARKERS order) reaching the max score, 'unk'
    # when every score is 0 — mirrored exactly by the oracle's CASE chain.
    for lang in langs:
        s = scores[lang]
        new_best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)
        best = new_best
    out_cols = [F.col(id_col)]
    out_cols += [scores[lang].cast("int").alias(f"score_{lang}") for lang in langs]
    out_cols.append(best.alias("pred_lang"))
    return df.select(*out_cols)


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: full-content md5 (lower-cased) and a head
    fingerprint over the first 8 words — a cheap prefix sketch for
    clustering boilerplate. Both reproducible in any md5-capable engine."""
    w = words(text_col)
    head = F.concat_ws(" ", F.slice(w, 1, 8))
    return df.select(
        F.col(id_col),
        F.md5(F.lower(F.col(text_col)).cast("binary")).alias("fp_full"),
        F.md5(head.cast("binary")).alias("fp_head"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document: (doc_id, word, score_e6, rnk).

    tf = in-document term count, idf = ln(N / df) with df = number of
    documents containing the word, N = corpus size. Dataflow: explode →
    tf aggregate on (doc, word) → df aggregate on word → join back on
    word → broadcast the 1-row corpus count → window top-k per doc.
    The word-keyed join is the skew point at corpus scale (stopwords
    dominate); AQE skew-join splits those partitions, and the vocabulary
    table is orders of magnitude smaller than the corpus, so the join is
    cheap relative to the explode.

    Scores are quantized to an integer 1e-6 grid (``score_e6``): the two
    verification engines' ``ln`` may legitimately differ in the last ulp,
    and ranking on raw doubles would let a 1-ulp difference flip a rank.
    On the grid the ordering (score_e6 DESC, word) is total and
    engine-independent.
    """
    from pyspark.sql import Window

    from .dedup import _ensure_parallelism

    tokens = _ensure_parallelism(df).select(
        F.col(id_col), F.explode(words(text_col)).alias("word")
    )
    tf = tokens.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_e6",
            F.floor(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1e6 + 0.5
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score_e6").desc(), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "word", "score_e6", "rnk")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every word k-gram, slide a window of ``w`` consecutive
    hashes, keep each window's minimum — guaranteeing any match of at least
    ``w + k - 1`` words shares a fingerprint. Returns distinct
    (doc_id, fp) rows.

    Pure higher-order Catalyst expressions (split → transform → slice →
    array_min → explode): narrow per-row work until the final explode, so
    it runs at scan speed over a sharded corpus. Docs with fewer than
    ``k`` words emit nothing; docs with fewer than ``w`` k-grams keep
    their single global minimum (standard winnowing boundary rule).
    """
    from .dedup import _ensure_parallelism

    # PERF: every stage below lives in its OWN projection so each lambda
    # references a bound attribute, never an inlined expression tree.
    # Catalyst does no CSE inside higher-order-function lambdas: inlining
    # `split` into the gram lambda re-splits the text per element, and
    # inlining the hash array into the sliding-min lambda re-hashes every
    # gram per window — O(n·w) degrades to O(n²·w) (measured 100x on the
    # synthetic corpus). CollapseProject keeps the boundaries because each
    # alias is multiply-referenced and non-cheap. The explode at the end
    # must be explode_outer + a post-filter on the OUTPUT attribute:
    # plain explode triggers InferFiltersFromGenerate, whose synthesized
    # size(mins) > 0 predicate gets pushed below the projections with the
    # whole tree substituted in — re-running the pipeline per row
    # (measured ~100x on the synthetic corpus). The rule skips outer
    # generates, and a filter on the generator output cannot sink.
    d0 = _ensure_parallelism(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("ws")
    )
    n_grams = F.size(F.col("ws")) - (k - 1)
    # sequence(1, 0) is DESCENDING in Spark — short docs need the guard.
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("ws"), i + j) for j in range(k)]
            ),
        ),
    )
    d1 = d0.select(F.col(id_col), grams.alias("grams"))
    hashes = F.transform(
        F.col("grams"),
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    d2 = d1.select(F.col(id_col), hashes.alias("hs"))
    nh = F.size(F.col("hs"))
    mins = F.when(
        nh >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), nh - (w - 1)),
                lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
            )
        ),
    ).when(nh >= 1, F.array(F.array_min(F.col("hs"))))
    return (
        d2.select(F.col(id_col), mins.alias("mins"))
        .select(id_col, F.explode_outer("mins").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )


def dup_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style intra-document repetition signal: the fraction of
    word n-gram occurrences that are duplicates of an earlier occurrence.
    Output: (id, n_ngrams, dup_ppm) with
    dup_ppm = (n_ngrams - n_distinct) * 1e6 // n_ngrams — exact integers.

    Pure Catalyst array expressions (split once, transform, array_distinct)
    — zero shuffle, zero Python; composes with quantile_filter for the
    actual drop decision.
    """
    # Split materialized ONCE per row (engine-wide convention: Catalyst
    # does not CSE inside higher-order-function lambdas — an inline split
    # would re-run per element_at).
    ws = F.col("ws_")
    base = df.withColumn("ws_", F.split(F.col(text_col), " ")).select(
        F.col(id_col),
        F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(ws, i + j) for j in range(n)]
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("grams"),
    )
    return base.select(
        F.col(id_col),
        F.size("grams").cast("long").alias("n_ngrams"),
        F.expr(
            "CASE WHEN size(grams) > 0 THEN "
            "(CAST(size(grams) - size(array_distinct(grams)) AS BIGINT) "
            " * 1000000) div size(grams) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("dup_ppm"),
    )


def word_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram Shannon entropy (bits) — a cheap
    perplexity proxy: low-entropy documents are repetitive/templated,
    suspiciously high entropy is often garbled encoding. Computed entirely
    with array higher-order functions (distinct -> per-term count via
    filter -> aggregate of -p*log2 p), so it is O(distinct × words) per
    ROW with zero shuffle — scan-speed over any corpus size. Rounded to
    6 dp because log2 may differ in the last ulp across engines."""
    w = words(text_col)
    n = F.size(w)
    counts = F.transform(
        F.array_distinct(w),
        lambda t: F.size(F.filter(w, lambda x: x == t)).cast("double"),
    )
    # Each -p*log2(p) term floor-scales to an integer (nano-bits) BEFORE
    # the fold, so the accumulation is an exact integer sum — engines may
    # associate list reductions differently without changing any bit.
    ent_nano = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, c: acc
        - F.floor(
            (c / n.cast("double"))
            * F.log2(c / n.cast("double"))
            * F.lit(1e9)
        ).cast("long"),
    )
    return df.select(
        F.col(id_col),
        n.cast("int").alias("n_words"),
        ent_nano.alias("entropy_nanobits"),
    )


def length_histogram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide document-length histogram on power-of-two word-count
    buckets — the standard first look at a training corpus (and the
    input to length-based filtering policy). One map-side-combinable
    aggregate; only (bucket, stats) rows shuffle."""
    n = F.size(words(text_col))
    exp = F.floor(F.log2(n.cast("double"))).cast("int")
    return (
        df.select(
            exp.alias("bucket_exp"),
            F.pow(F.lit(2.0), exp).cast("long").alias("bucket_lo"),
            n.alias("n_words"),
        )
        .groupBy("bucket_exp", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.min("n_words").cast("int").alias("min_words"),
            F.max("n_words").cast("int").alias("max_words"),
        )
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Corpus-wide pointwise mutual information of adjacent word pairs —
    the collocation detector ("new york" vs chance co-occurrence).
    PMI = ln( p(ab) / (p(a)·p(b)) ) with p() from corpus counts.

    Three map-side-combinable aggregates (bigram counts, unigram counts,
    scalar totals); the unigram relation joins back twice on the word —
    O(vocabulary) rows, tiny next to the corpus. ``min_count`` drops the
    noise tail (rare pairs have unstable PMI and dominate the output)."""
    w = words(text_col)
    grams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (
        df.select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    uni = (
        df.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = df.agg(
        F.sum(F.size(w)).cast("double").alias("n_uni"),
        F.sum(F.greatest(F.size(w) - 1, F.lit(0))).cast("double").alias("n_big"),
    )
    return (
        big.join(uni.withColumnsRenamed({"word": "w1", "c": "c1"}), "w1")
        .join(uni.withColumnsRenamed({"word": "w2", "c": "c2"}), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c12",
            F.col("c1").alias("c1"),
            F.col("c2").alias("c2"),
            F.floor(
                F.log(
                    (F.col("c12").cast("double") / F.col("n_big"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_uni"))
                        * (F.col("c2").cast("double") / F.col("n_uni"))
                    )
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )


def naive_bayes_token_stats(
    df: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
    top_n: int = 10,
) -> DataFrame:
    """Multinomial naive-Bayes training statistics — the classic fast
    text classifier a curation pipeline trains per-source/per-label
    (quality-classifier bootstrap, domain tagging). Emits, per class,
    the Laplace-smoothed token likelihoods of the ``top_n`` most frequent
    tokens plus the class prior.

    All probabilities are exact integer PPM (``(cnt+1)·1e6 div
    (class_total + |V|)``) — no float division, so any engine computes
    identical bits; a consumer exponentiates/logs at scoring time.

    Scale shape: one explode + map-side-combinable (class, word)
    aggregate; vocabulary size and document totals are 1-row aggregates
    broadcast-crossed on; top-n is a window partitioned BY CLASS (never
    global). O(vocab) intermediate rows, no all-pairs anywhere.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(class_col).alias("cls"), F.explode(words(text_col)).alias("word")
    )
    counts = tok.groupBy("cls", "word").agg(F.count(F.lit(1)).alias("cnt"))
    class_totals = counts.groupBy("cls").agg(F.sum("cnt").alias("cls_total"))
    vocab = counts.agg(
        F.count_distinct("word").cast("long").alias("vocab_size")
    )
    doc_counts = df.groupBy(F.col(class_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_total = df.agg(F.count(F.lit(1)).alias("n_docs_total"))
    w = Window.partitionBy("cls").orderBy(F.desc("cnt"), F.col("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .join(class_totals, "cls")
        .join(doc_counts, "cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("cls").alias(class_col),
            F.col("rnk").cast("int").alias("rnk"),
            "word",
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("(cnt + 1) * 1000000 div (cls_total + vocab_size)")
            .cast("long")
            .alias("likelihood_ppm"),
            F.expr("n_docs * 1000000 div n_docs_total")
            .cast("long")
            .alias("prior_ppm"),
        )
    )


def feature_hash(
    df: DataFrame,
    n_buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick bag-of-words vectorizer: each word hashes to one of
    ``n_buckets`` dimensions (engine-portable md5-derived hash60 % B);
    output is one count column per bucket — the fixed-width,
    vocabulary-free feature rep that feeds linear classifiers at corpus
    scale. The bucket array materializes in its own projection (one md5
    per word), then B per-row filter counts — zero shuffle, scan speed."""
    from ..functions.hashing import hash60

    ws = words(text_col)
    d1 = df.select(
        F.col(id_col),
        F.transform(ws, lambda w: F.pmod(hash60(w), F.lit(n_buckets))).alias(
            "_bk"
        ),
    )
    return d1.select(
        F.col(id_col),
        *[
            F.size(F.filter("_bk", lambda b: b == F.lit(i)))
            .cast("int")
            .alias(f"f{i}")
            for i in range(n_buckets)
        ],
    )


def ngram_lm_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Bigram language-model count tables with Kneser-Ney continuation
    type counts: per surviving bigram (c12 >= min_count), the raw count,
    the number of DISTINCT left contexts of w2 (prefix types — the KN
    continuation numerator) and distinct right continuations of w1
    (suffix types). Type counts come from the FULL bigram relation, not
    the thresholded one. Three combinable aggregates + two O(vocab)
    joins."""
    w = words(text_col)
    grams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big_all = (
        df.select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    big_all = pin(big_all)
    kept = big_all.filter(F.col("c12") >= min_count)
    prefix_types = big_all.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("prefix_types")
    )
    suffix_types = big_all.groupBy("w1").agg(
        F.count(F.lit(1)).cast("long").alias("suffix_types")
    )
    return (
        kept.join(prefix_types, "w2")
        .join(suffix_types, "w1")
        .select("w1", "w2", "c12", "prefix_types", "suffix_types")
    )


def bm25_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_query_terms: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against an automatic query (the
    ``n_query_terms`` highest-df words, ties by word) — the classic
    retrieval scorer a data pipeline uses for quality/relevance mining.

    Per-term scores are quantized to an integer 1e-9 grid BEFORE the
    per-doc sum, so the result is exactly engine-reproducible (a raw
    double sum would be addition-order sensitive). Dataflow: explode →
    (doc, word) tf → word df (O(vocab)) → top-k query terms (tiny) →
    broadcast join back → integer sum per doc. Shuffles are bounded by
    vocabulary and document counts, never corpus bytes.
    """
    from pyspark.sql import Window

    from .dedup import _ensure_parallelism

    tokens = _ensure_parallelism(df).select(
        F.col(id_col), F.explode(words(text_col)).alias("word")
    )
    tf = tokens.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    dl = df.select(
        F.col(id_col), F.size(words(text_col)).alias("dl")
    )
    corpus = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words(text_col))).cast("long").alias("total_len"),
    )
    wq = Window.orderBy(F.col("df").desc(), F.col("word"))
    qterms = (
        dfreq.withColumn("qrank", F.row_number().over(wq))
        .filter(F.col("qrank") <= n_query_terms)
        .select("word", "df")
    )
    joined = (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    per_term = joined.select(
        F.col(id_col),
        F.floor(term * 1e9 + 0.5).cast("long").alias("term_e9"),
    )
    return per_term.groupBy(id_col).agg(
        F.sum("term_e9").cast("long").alias("bm25_e9"),
        F.count(F.lit(1)).cast("int").alias("n_matched"),
    )


def sparse_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_cos2_ppm: int = 250_000,
    max_df_frac: float = 0.05,
    max_df_abs: int = 256,
) -> DataFrame:
    """Document-pair cosine similarity over sparse term-frequency vectors
    via an INVERTED-INDEX join — the bag-of-words complement to the
    shingle-Jaccard family: candidate pairs only ever meet through a
    shared term's posting list, so cost is sum of SQUARED posting-list
    lengths — which is why the cap must be two-sided: ``max_df_frac``
    drops corpus-relative stop words, and ``max_df_abs`` bounds the
    absolute posting length. A fractional cap alone grows with the
    corpus, so per-word pair work grows QUADRATICALLY with corpus size
    (measured: the 16x salted probe ran minutes-long with cap
    0.05·80k=4000 where the absolute 256 bound keeps df² ≤ 65k per word
    and total work linear). The effective cap is
    ``least(floor(max_df_frac·N), max_df_abs)``; at the test scales the
    fractional cap is the binding one, so small-corpus results are
    unchanged.

    Everything stays in EXACT integer space: dot products and squared
    norms are integer sums, and the emitted score is squared cosine in
    ppm — ``dot² · 1e6 div (‖a‖²·‖b‖²)`` — so no sqrt/float ever enters
    and any engine computes identical bits. ``min_cos2_ppm=250_000``
    equals cosine ≥ 0.5.

    Returns (doc_a, doc_b, dot, cos2_ppm).
    """
    # tf is consumed by both the docfreq cap and the kept index — left
    # lazy, the scan→explode→aggregate subtree ran twice (optimization
    # round 10).
    tf = pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words(text_col)).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # The df cap stays in-plan (1-row corpus count broadcast onto the
    # O(vocab) docfreq relation) — no driver action, one job end-to-end.
    # The keep-list join is NOT force-broadcast: vocabulary grows with
    # the corpus (the 16x salted probe blew a forced broadcast up to
    # 464s of executor GC), so Catalyst/AQE picks — broadcast while the
    # vocab is small, hash-shuffle on the word key once it isn't.
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    docfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    keep_words = (
        docfreq.crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.least(
                F.greatest(
                    F.lit(1), F.floor(F.lit(max_df_frac) * F.col("n_docs"))
                ),
                F.lit(max_df_abs).cast("long"),
            )
        )
        .select("word")
    )
    kept = tf.join(keep_words, "word")
    kept = pin(kept)
    # Materialize the cache eagerly: the norms aggregate and the two
    # self-join sides land in one job and would otherwise race on the
    # uncached subtree (the same measured defect jaccard_pairs
    # documents — optimization round 10).
    kept.count()
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm2")
    )
    a = kept.select(
        "word", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = kept.select(
        "word", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "word")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    return (
        dots.join(
            norms.withColumnsRenamed({"doc_id": "doc_a", "norm2": "na"}),
            "doc_a",
        )
        .join(
            norms.withColumnsRenamed({"doc_id": "doc_b", "norm2": "nb"}),
            "doc_b",
        )
        .withColumn(
            "cos2_ppm",
            F.expr("dot * dot * 1000000 div (na * nb)").cast("long"),
        )
        .filter(F.col("cos2_ppm") >= min_cos2_ppm)
        .select("doc_a", "doc_b", F.col("dot").cast("long").alias("dot"), "cos2_ppm")
    )


def lm_score_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document against the corpus bigram language model — the
    perplexity-proxy fluency filter a curation pipeline runs after
    training counts (:func:`ngram_lm_counts`): text whose word pairs are
    rare under the corpus model is likely noise. The per-occurrence
    conditional probability p(w2|w1) = c(w1,w2)/c(w1) stays in exact
    integer PPM (``c12·1e6 div c1``), and the doc score is the integer
    mean of its occurrences' ppm values — no log/float anywhere, so any
    engine computes identical bits (a consumer exponentiates at
    threshold time; ordering by mean-ppm equals ordering by geometric
    intuition closely enough for a filter).

    Scale: the regex tokenize runs ONCE — the token-array relation is
    persisted and both the bigram-occurrence explode and the unigram
    count derive from it (r3 plan audit flagged the double tokenize).
    The corpus count relations are O(vocab)/O(bigram-vocab) aggregates
    joined back by word keys (AQE handles stop-word skew), one final
    per-doc aggregate. Docs with fewer than 2 words emit nothing.
    """
    wdf = pin(df.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("ws")
    ))
    ws = F.col("ws")
    grams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    occ = wdf.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", "g.w1", "g.w2"
    )
    big = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = wdf.select(F.explode(ws).alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    # Score DISTINCT bigrams first (an O(bigram-vocab) join), then join
    # the occurrence fact ONCE against the scored relation — the fact
    # side shuffles a single time instead of through a two-join chain.
    bigram_ppm = big.join(uni, "w1").select(
        "w1", "w2", F.expr("c12 * 1000000 div c1").alias("ppm")
    )
    scored = occ.join(bigram_ppm, ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(ppm) div count(1)").cast("long").alias("mean_prob_ppm"),
    )


def term_kl_divergence(
    df: DataFrame,
    side_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary drift between two corpus sides: add-1-smoothed KL
    divergence of the unigram term distributions, both directions — the
    "did this month's crawl shift under me" monitor (the term-level
    sibling of the score-level PSI drift op). ``side_col`` must be a
    boolean-ish int column (0/1).

    One explode + one (term, side) count aggregate; totals and joint
    vocabulary size ride 1-row broadcast joins. Each term's
    contribution ``p·ln(p/q)`` is rounded to an exact integer at 1e9
    scale before summing, so the Σ over millions of terms is
    partition-order deterministic (float Σ of logs is not); a last-ulp
    ``ln`` difference moves a term by ~1e-11 — far below the rounding
    grain.

    Returns one row: (n_terms, tot_a, tot_b, kl_ab_e9, kl_ba_e9).
    """
    terms = df.select(
        F.col(side_col).alias("side"),
        F.explode(F.split(F.trim(F.col(text_col)), " +")).alias("term"),
    ).filter(F.col("term") != "")
    counts = terms.groupBy("term").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("nb"),
    )
    tot = counts.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = (F.col("na") + 1).cast("double") / (F.col("ta") + F.col("v")).cast(
        "double"
    )
    q = (F.col("nb") + 1).cast("double") / (F.col("tb") + F.col("v")).cast(
        "double"
    )
    t_ab = F.round(F.lit(1.0e9) * p * F.log(p / q), 0).cast("long")
    t_ba = F.round(F.lit(1.0e9) * q * F.log(q / p), 0).cast("long")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.first(F.col("ta")).cast("long").alias("tot_a"),
        F.first(F.col("tb")).cast("long").alias("tot_b"),
        F.sum(t_ab).alias("kl_ab_e9"),
        F.sum(t_ba).alias("kl_ba_e9"),
    )


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, Table A1
    adapted to the word-token domain): word-count bounds, mean-word-length
    bounds, minimum alphabetic-word fraction, and a stopword-presence
    check. The standard pre-training heuristic filter pass.

    Every rule is an INTEGER comparison (the alpha-fraction threshold
    4/5 is cross-multiplied: ``5*alpha_words >= 4*n_words``), so the
    verdict column is bit-portable to any engine. Pure Catalyst
    string/array expressions — scan-speed over a sharded corpus, no
    shuffle at all.
    """
    w = words(text_col)
    n_words = F.size(w)
    n_chars = F.length(F.col(text_col))
    # mean word length bounds 2..12, cross-multiplied to integers:
    # 2 <= (n_chars - n_words + 1) / n_words <= 12
    sum_wl = n_chars - n_words + 1
    alpha_words = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in ("the", "a", "and", "of", "to")]),
        )
    )
    ok_nwords = (n_words >= 5) & (n_words <= 100000)
    ok_mwl = (sum_wl >= 2 * n_words) & (sum_wl <= 12 * n_words)
    ok_alpha = 5 * alpha_words >= 4 * n_words
    ok_stop = stop_hits >= 1
    return df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        alpha_words.cast("int").alias("alpha_words"),
        stop_hits.cast("int").alias("stop_hits"),
        ok_nwords.alias("ok_nwords"),
        ok_mwl.alias("ok_mwl"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_nwords & ok_mwl & ok_alpha & ok_stop).alias("passes"),
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_points: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: for ``n_points`` doc-id
    thresholds (an even grid over [1, max id]), the number of documents,
    total tokens, and DISTINCT words among documents at or below the
    threshold — the sublinear vocab-vs-corpus curve used to sanity-check
    tokenizer vocab sizing against corpus growth.

    No global sort or running window: each word reduces to its
    first-occurrence doc id (one aggregate), each doc to its token count
    (one aggregate), and both tiny relations join a broadcast
    ``n_points``-row grid with a ``<=`` predicate — cumulative counts by
    conditional fan-out over O(vocab * n_points) rows, all exact ints.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    first = toks.groupBy("w").agg(F.min(id_col).alias("first_id"))
    per_doc = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    grid = (
        df.agg(F.max(id_col).cast("long").alias("mx"))
        .select(
            F.posexplode(
                F.expr(f"transform(sequence(1, {n_points}), k -> k)")
            ).alias("i", "k"),
            "mx",
        )
        .select("k", F.expr(f"mx * k div {n_points}").alias("threshold_id"))
    )
    vocab = (
        first.join(F.broadcast(grid), F.col("first_id") <= F.col("threshold_id"))
        .groupBy("k", "threshold_id")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    docs = (
        per_doc.join(
            F.broadcast(grid), F.col(id_col) <= F.col("threshold_id")
        )
        .groupBy("k", "threshold_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    return docs.join(vocab, ["k", "threshold_id"]).select(
        F.col("k").cast("int").alias("k"),
        F.col("threshold_id").cast("long").alias("threshold_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document repetition signals (the Gopher repetition-filter
    family, Rae et al. 2021 Table A1, word-token variant): per document,

    - ``top_bigram_cnt`` / ``top_bigram_ppm`` — occurrences of the most
      frequent word bigram and ``2 * cnt / n_tokens`` in ppm (may exceed
      1e6 for pathological ``a a a`` runs — overlapping occurrences are
      counted raw, which is exactly the degenerate case the filter is
      meant to catch);
    - ``dup5_tokens`` / ``dup5_ppm`` — tokens covered by 5-grams that
      repeat within the document, as the exact UNION of the (sorted,
      fixed-length) occurrence intervals.

    The interval union needs no per-doc fold: 5-gram intervals sorted by
    start have monotone ends, so each occurrence contributes
    ``min(5, p - prev_p)`` tokens off one LAG window — a single
    doc-partitioned shuffle, exact integers throughout.
    """
    arr = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col), arr.alias("arr"), F.size(arr).alias("n_tokens")
    )
    big = base.select(
        id_col,
        "n_tokens",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(arr) - 1, 1)),"
                " i -> concat(element_at(arr, i), ' ',"
                " element_at(arr, i + 1)))"
            )
        ).alias("g"),
    ).filter(F.col("n_tokens") >= 2)
    top_big = (
        big.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    g5 = base.filter(F.col("n_tokens") >= 5).select(
        id_col,
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(arr) - 4),"
                " p -> concat_ws(' ', slice(arr, p, 5)))"
            )
        ).alias("i", "g"),
    )
    dup_pos = (
        g5.withColumn("p", F.col("i") + 1)
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy(id_col, "g")))
        .filter(F.col("cnt") >= 2)
    )
    wlag = Window.partitionBy(id_col).orderBy("p")
    covered = (
        dup_pos.withColumn("prev_p", F.lag("p").over(wlag))
        .select(
            id_col,
            F.when(
                F.col("prev_p").isNull(), F.lit(5)
            ).otherwise(F.least(F.col("p") - F.col("prev_p"), F.lit(5)))
            .alias("contrib"),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("dup5_tokens"))
    )
    return (
        base.select(id_col, "n_tokens")
        .join(top_big, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("top_bigram_cnt", F.lit(0))
            .cast("long")
            .alias("top_bigram_cnt"),
            F.expr(
                "coalesce(top_bigram_cnt, 0) * 2000000"
                " div greatest(n_tokens, 1)"
            ).alias("top_bigram_ppm"),
            F.coalesce("dup5_tokens", F.lit(0)).cast("long").alias("dup5_tokens"),
            F.expr(
                "coalesce(dup5_tokens, 0) * 1000000"
                " div greatest(n_tokens, 1)"
            ).alias("dup5_ppm"),
        )
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau, EMNLP 2004):
    build the word co-occurrence graph — an undirected edge between
    each pair of ADJACENT words — and rank words by PageRank over it;
    high-rank words are the terms the corpus "keeps returning to", the
    unsupervised keyword/keyphrase primitive.

    The edge build is pure Catalyst array work (one transform over the
    split word array per document, then a global distinct); ranking
    reuses :func:`..graph.pagerank_e12` — the exact int64-grid PageRank
    whose unrolled iterations the DuckDB oracle replays bit-for-bit —
    over the symmetrized distinct edge set (classic TextRank is
    unweighted over a window; window size 2 here). Top-k by
    (rank desc, word) with a row_number over the already-LIMITed
    relation, so no full-vocabulary single-partition sort survives in
    the plan at scale beyond the O(vocab) rank relation itself.

    Returns (word, rank_e12, rnk), the k highest-ranked words.
    """
    from .graph import pagerank_e12

    # Guard size >= 2 BEFORE building the index sequence: Spark's
    # sequence(1, 0) steps DOWNWARD ([1, 0]), which would fabricate
    # pairs on single-word documents.
    ws = df.select(F.split(F.col(text_col), " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    pairs = ws.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
            )
        ).alias("p")
    ).filter(F.col("p.w1") != F.col("p.w2"))
    edges = (
        pairs.select(F.col("p.w1").alias("src"), F.col("p.w2").alias("dst"))
        .unionByName(
            pairs.select(F.col("p.w2").alias("src"), F.col("p.w1").alias("dst"))
        )
        .distinct()
    )
    ranks = pagerank_e12(edges, iters=iters)
    top = ranks.orderBy(F.col("rank_e12").desc(), "node").limit(k)
    w = Window.orderBy(F.col("rank_e12").desc(), "node")
    return top.select(
        F.col("node").alias("word"),
        "rank_e12",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# Cyrillic/Greek homoglyphs that render identically to Latin letters —
# the standard confusable set spam/dedup evasion actually uses
# (Unicode TR39 confusables, the high-frequency single-char subset).
_CONFUSABLE_SRC = "аеорсухΑΒΕΖΗΙΚΜΝΟΡΤΥΧ"
_CONFUSABLE_DST = "aeopcyxABEZHIKMNOPTYX"


def canonicalize_confusables(
    df: DataFrame,
    text_col: str = "text",
    zero_width: bool = True,
) -> DataFrame:
    """Text canonicalization for dedup: fold Unicode confusables
    (Cyrillic/Greek homoglyphs -> Latin, Unicode TR39's high-frequency
    single-char subset), strip zero-width characters (ZWSP/ZWNJ/ZWJ/
    BOM), collapse runs of whitespace, and lowercase — the
    normalization pass that runs BEFORE content hashing, because exact
    dedup by raw bytes misses the trivially-obfuscated copies that
    spam, SEO mirror, and benchmark-contamination text actually
    contains (one swapped Cyrillic 'о' defeats md5).

    Pure Catalyst expressions (translate / regexp_replace / lower) —
    zero shuffle, codegen-friendly, and each building block exists
    verbatim in ANSI engines so the pass is oracle-portable. Adds
    ``canon_text``; compose with :func:`..dedup.exact_dedup` on that
    column for canonical-dedup, or with MinHash for near-dup.
    """
    c = F.translate(F.col(text_col), _CONFUSABLE_SRC, _CONFUSABLE_DST)
    if zero_width:
        c = F.regexp_replace(c, "[\u200b\u200c\u200d\ufeff]", "")
    c = F.lower(F.regexp_replace(c, "[ \\t\\r\\n]+", " "))
    return df.withColumn("canon_text", c)


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit of the corpus unigram frequency distribution: the
    OLS slope of ln(frequency) on ln(rank) over the ``top_n`` most
    frequent tokens — the standard corpus-health fingerprint (natural
    text sits near slope -1; template/boilerplate-heavy or synthetic
    corpora drift off it), one number a curation pipeline tracks per
    ingest batch.

    Scale shape: one explode → map-side-combinable (token) count — the
    only corpus-sized work; the top-``top_n`` cut is a distributed
    TakeOrderedAndProject (per-partition top-k merge, never a global
    sort), and ranking/regression run on the O(top_n) result. ln values
    are gridded to integer 1e-6 (house ulp convention, cf.
    :func:`tfidf_top_terms`), so all OLS sums are EXACT DECIMAL(38,0)
    integer arithmetic and the slope is a deterministic truncating
    division — identical in any engine.

    Returns one row: (n_terms, slope_ppm, intercept_ppm).
    """
    from .dedup import _ensure_parallelism

    tokens = _ensure_parallelism(df).select(
        F.explode(words(text_col)).alias("word")
    )
    freq = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), "word").limit(top_n)
    w = Window.orderBy(F.col("freq").desc(), "word")
    xy = (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            F.floor(F.log(F.col("rnk").cast("double")) * 1e6 + 0.5)
            .cast("decimal(38,0)")
            .alias("x"),
            F.floor(F.log(F.col("freq").cast("double")) * 1e6 + 0.5)
            .cast("decimal(38,0)")
            .alias("y"),
        )
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); ppm via exact integer
    # truncating division (Spark div == DuckDB // on these operands).
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_ppm"),
        # intercept = (Σy − slope·Σx)/n with slope as the exact ratio:
        # (Σy·den − Σx·num)/(n·den) — one truncating division at the
        # end keeps it exact-integer. x and y already sit on the 1e-6
        # ln grid, so the result IS ppm.
        F.expr(
            "CAST((sy * (n * sxx - sx * sx) - sx * (n * sxy - sx * sy))"
            " div (n * (n * sxx - sx * sx)) AS BIGINT)"
        ).alias("intercept_ppm"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document NOVEL n-gram ratio in corpus (id) order: a shingle
    is novel in the single document with the smallest id containing it.
    The curation signal behind "how much genuinely new content does
    each source/batch add?" — near-duplicates and boilerplate-heavy
    docs score near 0, fresh material near 1e6 (ppm grid).

    Dataflow: the same distinct-shingle relation the dedup family uses
    (:func:`..dedup.shingles`) → a map-side-combinable min(id) per
    shingle (O(vocab) state) → one join back on shingle → per-doc
    counts. No windows, no corpus sort; the shingle-keyed join is the
    skew point (AQE splits hot shingles), exactly like the TF-IDF df
    join.

    Returns (doc_id, n_shingles, n_novel, novelty_ppm); documents
    shorter than ``n`` words have no shingles and are absent, matching
    the shingle relation's contract.
    """
    from .dedup import shingles

    # sh feeds both the min-id aggregate and the join probe — left
    # lazy the scan+explode ran twice; the first-doc broadcast build
    # fills this cache before the probe job (optimization round 10).
    sh = pin(shingles(df, text_col, id_col, n=n))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr("CAST(n_novel * 1000000 div n_shingles AS BIGINT)").alias(
            "novelty_ppm"
        ),
    )



def _gram_at(ws, n: int):
    """Unary shingle lambda for F.transform — a closure factory keeps the
    lambda single-argument (a 2-param lambda would be read by PySpark as
    the (element, index) binary form)."""
    def fn(i):
        return F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(n)]
        )
    return fn


def dup_rate_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (1, 2, 3, 5, 8),
) -> DataFrame:
    """Corpus-level duplicate-mass curve: for each word-shingle size n,
    the fraction of n-gram OCCURRENCES that are repeats of an earlier
    occurrence anywhere in the corpus — the knob-setting companion to
    the dedup family (tiny n saturates near 1, large n isolates true
    near-dup mass; the knee tells you which shingle size separates
    natural language reuse from copying).

    ONE pass over the corpus for ALL shingle sizes (optimization round
    10): the old per-n union of five aggregates re-ran the scan + split
    once per n — Catalyst does not CSE across union branches — so the
    text was tokenized five times. Exploding the n-list against each
    tokenized row and building grams with a dynamic ``slice`` shares a
    single scan/split; the per-(n, gram) distinct is one two-level
    aggregate keyed (n, g) with the same total shuffle volume as the
    five separate ones. dup_ppm = (total - distinct) * 1e6 div total,
    exact integers (truncating div matches DuckDB ``//``).
    """
    ws = F.col("ws_")
    n_c = F.col("n")
    grams = (
        df.withColumn("ws_", F.split(F.col(text_col), " "))
        .select(
            "ws_",
            F.explode(
                F.array(*[F.lit(int(n)).cast("int") for n in ns])
            ).alias("n"),
        )
        .select(
            "n",
            F.when(
                F.size(ws) >= n_c,
                # sequence(1, 0) is DESCENDING [1, 0], not empty — the
                # when-guard above keeps short documents out, matching
                # the oracle's len(ws) >= n.
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - (n_c - F.lit(1))),
                    lambda i: F.concat_ws(" ", F.slice(ws, i, n_c)),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("grams"),
        )
        .select("n", F.explode("grams").alias("g"))
    )
    per_n = grams.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.count_distinct("g").cast("long").alias("n_distinct"),
    )
    # Shingle sizes absent from the corpus output (0, 0, 0) rows in the
    # old per-n form — restore them with a tiny n-list left join.
    spark = df.sparkSession
    n_dim = spark.createDataFrame([(int(n),) for n in ns], "n int")
    return (
        n_dim.join(F.broadcast(per_n), "n", "left")
        .select(
            F.col("n").cast("int").alias("n"),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_distinct"), F.lit(0))
            .cast("long")
            .alias("n_distinct"),
        )
        .select(
            "n",
            "n_grams",
            "n_distinct",
            F.expr(
                "CASE WHEN n_grams > 0 THEN"
                " ((n_grams - n_distinct) * 1000000) div n_grams"
                " ELSE 0 END"
            ).alias("dup_ppm"),
        )
    )


def readability_flesch(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch Reading Ease per document (Flesch 1948): ``206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words)`` — the classic
    curation-side readability score (prose sits ~60-80; dense/technical
    text lower), a standard quality-scoring feature for pre-training
    corpus filters.

    Heuristics are engine-portable by construction: sentences = runs of
    ``[.!?]`` (floor 1 — headline-style text without terminal
    punctuation counts as one sentence), words = whitespace tokens,
    syllables = vowel-group runs ``[aeiouy]+`` per word with a floor of
    1 per word (the standard dictionary-free approximation). The score
    lands on an exact integer milli grid: with W/S/Y integer counts,
    ``flesch_milli = (206835·S·W − 1015·W² − 84600·Y·S) div (S·W)`` —
    one truncating division over DECIMAL(38,0) products (Spark ``div``
    == DuckDB ``//``), so engine and oracle agree bit-for-bit with no
    float in sight.

    Scale shape: pure per-row Catalyst string/array expressions inside
    whole-stage codegen — scan speed, zero shuffle, trivially sharded
    over a 100 TB corpus.
    """
    w = words(text_col)
    n_words = F.greatest(F.lit(1), F.size(F.filter(w, lambda x: x != "")))
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
    )
    n_syll = F.aggregate(
        F.filter(w, lambda x: x != ""),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.lower(x), F.lit("[aeiouy]+"), 0)),
        ).cast("long"),
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "CAST((206835 * CAST(n_sentences AS DECIMAL(38,0)) * n_words"
            " - 1015 * CAST(n_words AS DECIMAL(38,0)) * n_words"
            " - 84600 * CAST(n_syllables AS DECIMAL(38,0)) * n_sentences)"
            " div (CAST(n_sentences AS DECIMAL(38,0)) * n_words)"
            " AS BIGINT)"
        ).alias("flesch_milli"),
    )


#: Phrase delimiters for :func:`rake_keywords` — a fixed, documented
#: English function-word list (Stoddard/RAKE convention trimmed to the
#: closed-class core) so the operator is deterministic with no external
#: stoplist file. Matching is on lowercased text.
RAKE_STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on or "
    "that the to was were will with this these those they you we i"
).split()

#: The phrase-delimiter regex built from :data:`RAKE_STOPWORDS` — a
#: module constant so the engine and the DuckDB oracle compile the
#: IDENTICAL pattern (Java regex and RE2 agree on this subset:
#: non-capturing groups, alternation, ``\b``).
RAKE_DELIM = "(?:[^a-z ]+|\\b(?:" + "|".join(RAKE_STOPWORDS) + ")\\b)"


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
    max_words: int = 4,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the whole corpus:
    candidate phrases are maximal runs of non-stopword tokens between
    stopword/punctuation delimiters; each word scores ``degree/freq``
    (degree = Σ length of phrases containing it, freq = occurrences)
    and a phrase scores the sum of its words' scores. The standard
    cheap keyword/topic fingerprint for corpus exploration and
    boilerplate spotting.

    Determinism contract: word scores land on an integer milli grid
    (``(degree·1000) div freq``) BEFORE the phrase sum, so the phrase
    score is an exact integer in any engine — no float accumulation
    order to disagree on. Candidates longer than ``max_words`` are
    dropped (standard RAKE practice; unbounded runs between rare
    stopwords are not keyword material).

    Scale shape: one regexp split per document (codegen), one explode →
    two hash aggregates of O(vocab) / O(distinct-phrase) width, a
    broadcast-sized word-score join back onto phrase words, and a
    distributed top-``top_n`` (TakeOrderedAndProject). No window over
    data rows, no all-pairs anything.
    """
    phrases = (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), RAKE_DELIM)
            ).alias("seg")
        )
        .select(
            F.filter(F.split(F.trim("seg"), " +"), lambda x: x != "").alias(
                "pw"
            )
        )
        .filter((F.size("pw") >= 1) & (F.size("pw") <= max_words))
        .select(
            F.array_join("pw", " ").alias("phrase"),
            F.col("pw"),
            F.size("pw").alias("plen"),
        )
    )
    wstats = (
        phrases.select(F.explode("pw").alias("word"), "plen")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
        .select(
            "word",
            F.expr("CAST((degree * 1000) div freq AS BIGINT)").alias(
                "wscore_milli"
            ),
        )
    )
    # Occurrence counts over ALL phrase instances; the score needs each
    # phrase's word multiset ONCE (phrase string <-> word list is a
    # bijection — words contain no spaces), so score over the distinct
    # (phrase, words) mapping, summing member word scores with
    # multiplicity (standard RAKE).
    pcnt = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    pscore = (
        phrases.select("phrase", "pw")
        .distinct()
        .select("phrase", F.explode("pw").alias("word"))
        .join(wstats, "word")
        .groupBy("phrase")
        .agg(F.sum("wscore_milli").cast("long").alias("score_milli"))
    )
    return (
        pcnt.join(pscore, "phrase")
        .orderBy(F.col("score_milli").desc(), F.col("phrase"))
        .limit(top_n)
    )


def jsd_source_drift(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Jensen-Shannon divergence of the unigram term
    distribution vs the corpus-wide distribution — the symmetric,
    bounded ([0, ln 2]) sibling of :func:`term_kl_divergence`, the
    usual "which ingest source drifted" leaderboard (KL explodes on
    disjoint support; JSD does not, which is why mixing dashboards
    prefer it).

    Both distributions are add-1 smoothed over the JOINT vocabulary;
    ``jsd = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m)`` with ``m = (p+q)/2``. Each
    term's contribution is rounded to an exact integer at 1e9 scale
    before summing (the :func:`term_kl_divergence` convention), so the
    Σ over the vocabulary is partition-order deterministic.

    Scale shape: one explode → (term, group) count, one O(vocab) term
    total, and a vocab × n_groups dense grid for the smoothed zeros —
    linear in vocabulary with a SMALL group fan-out (sources are
    dozens, not millions; the grid is built with a broadcast of the
    O(groups) relation, never a shuffle of the vocabulary per group).
    """
    terms = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.trim(F.col(text_col)), " +")).alias("term"),
    ).filter(F.col("term") != "")
    gt = terms.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("n_gt"))
    t = gt.groupBy("term").agg(F.sum("n_gt").alias("n_t"))
    groups = gt.groupBy("grp").agg(F.sum("n_gt").alias("tot_g"))
    tot = t.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("n_t").cast("long").alias("tot_all"),
    )
    # Dense grid: every (term, group) pair, zero-filled — the smoothed
    # q side needs mass on terms the group never produced.
    grid = (
        t.crossJoin(F.broadcast(groups))
        .join(gt, ["term", "grp"], "left")
        .fillna(0, subset=["n_gt"])
        .crossJoin(F.broadcast(tot))
    )
    p = (F.col("n_gt") + 1).cast("double") / (
        F.col("tot_g") + F.col("v")
    ).cast("double")
    q = (F.col("n_t") + 1).cast("double") / (
        F.col("tot_all") + F.col("v")
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    contrib = F.round(
        F.lit(0.5e9) * (p * F.log(p / m) + q * F.log(q / m)), 0
    ).cast("long")
    return (
        grid.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.first("tot_g").cast("long").alias("tot_group"),
            F.sum(contrib).alias("jsd_e9"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_terms",
            "tot_group",
            "jsd_e9",
        )
    )


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    salt: str = "oov",
) -> DataFrame:
    """Out-of-vocabulary rate of each held-out document against the
    train split's vocabulary — the tokenizer/coverage health check run
    before committing a vocab ("how much of eval will be <unk>?").
    The split is the house content-keyed hash carve
    (:func:`~.sampling.hash_split`), so train/eval membership is
    deterministic and reproducible across engines.

    Scale shape: one explode per side, a DISTINCT on train tokens
    (O(vocab)), and one token-keyed left join of eval tokens against
    the vocabulary — the stopword-skewed join the TF-IDF family
    already documents (AQE skew-join splits the hot tokens; the vocab
    side is orders of magnitude smaller than the corpus).

    Returns per eval doc: (doc_id, n_tokens, n_oov, oov_ppm).
    """
    from .sampling import hash_split

    split = hash_split(
        df,
        id_col,
        {"train": train_frac, "eval": 1.0 - train_frac},
        salt=salt,
    )
    toks = lambda d: d.select(  # noqa: E731
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("w"),
    )
    vocab = (
        toks(split.filter(F.col("split") == "train"))
        .select("w")
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    ev = toks(split.filter(F.col("split") == "eval"))
    return (
        ev.join(vocab, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_known").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.expr("CAST(n_oov * 1000000 div n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Unicode-script profile: counts of Latin letters,
    digits, whitespace, CJK ideographs, and everything else, plus the
    dominant class — the cheap script-level complement to the n-gram
    :func:`lang_id` (script tells you *writing system* reliably even
    when the language model is unsure; it's the first routing key a
    multilingual curation pipeline branches on).

    Zero-shuffle narrow projection: each count is
    ``length(text) − length(regexp_replace(text, class, ''))`` — the
    engine-portable "count by deletion" idiom (works identically in
    Spark's Java regex and DuckDB's RE2 because the character classes
    are spelled as literal ranges, not engine-specific escapes).

    Returns (id, n_chars, n_latin, n_digit, n_space, n_cjk, n_other,
    dominant).
    """
    cjk_lo, cjk_hi = chr(0x4E00), chr(0x9FFF)
    t = F.coalesce(F.col(text_col), F.lit(""))

    def by_deletion(pattern: str) -> Column:
        return (
            F.length(t) - F.length(F.regexp_replace(t, pattern, ""))
        ).cast("long")

    out = df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        by_deletion("[A-Za-z]").alias("n_latin"),
        by_deletion("[0-9]").alias("n_digit"),
        by_deletion("[ \\t\\n\\r]").alias("n_space"),
        by_deletion(f"[{cjk_lo}-{cjk_hi}]").alias("n_cjk"),
    ).withColumn(
        "n_other",
        (
            F.col("n_chars")
            - F.col("n_latin")
            - F.col("n_digit")
            - F.col("n_space")
            - F.col("n_cjk")
        ).cast("long"),
    )
    dom = (
        F.when(
            (F.col("n_latin") >= F.col("n_cjk"))
            & (F.col("n_latin") >= F.col("n_digit"))
            & (F.col("n_latin") >= F.col("n_other")),
            F.lit("latin"),
        )
        .when(
            (F.col("n_cjk") >= F.col("n_digit"))
            & (F.col("n_cjk") >= F.col("n_other")),
            F.lit("cjk"),
        )
        .when(F.col("n_digit") >= F.col("n_other"), F.lit("digit"))
        .otherwise(F.lit("other"))
    )
    return out.withColumn("dominant", dom)


def ngram_coverage(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-eval-document n-gram coverage by a training corpus: what
    fraction of each eval doc's distinct word shingles appears ANYWHERE
    in train — the inverse question of :func:`..curation.decontaminate`
    (there: kill eval-contaminated train docs; here: measure how much
    of the eval set the train distribution already spans — the
    memorization-vs-generalization denominator for a benchmark score).

    Scale shape: both sides collapse to shingle relations first
    (``curation.word_ngrams`` array expressions, distinct per doc; the
    train side globally distinct and map-side combinable); the
    membership probe is ONE hash left-join from eval shingles to the
    train distinct-shingle relation, then a per-doc conditional count —
    never a doc×doc comparison. Coverage is a pure-integer ppm ratio.

    Returns (doc_id, n_shingles, n_covered, coverage_ppm) for eval
    docs with at least one shingle.
    """
    from .curation import word_ngrams

    tr = (
        train.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("shingle")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = eval_df.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"),
    )
    joined = ev.join(tr, "shingle", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_covered",
            F.expr(
                "CAST((n_covered * 1000000) div n_shingles AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


def log_odds_ratio(
    df: DataFrame,
    text_col: str,
    group_col: str,
    group_a,
    group_b,
    alpha_e3: int = 1000,
    min_count: int = 5,
) -> DataFrame:
    """Monroe–Colaresi–Quinn "fightin' words" (2008): per-term
    log-odds-ratio between two corpora with a Dirichlet prior, scaled
    by its estimated standard error — THE principled "which words
    distinguish corpus A from corpus B" list (raw frequency ratios
    explode on rare terms; the prior and the z-scaling fix exactly
    that). The curation use: contrast a kept vs filtered split to see
    what a quality filter is actually keying on.

    One tokenize+count pass to the O(vocab) term relation; the prior
    uses the pooled corpus as its direction (the paper's informative
    prior), alpha = alpha_e3/1e3 pseudo-counts per term. The
    delta/variance are computed per TERM over the vocab relation in
    double (ln of exact integer ratios — one libm call per term,
    identical operands both engines), floored to the ppm grid.

    Returns (term, cnt_a, cnt_b, z_ppm) for terms with
    cnt_a + cnt_b >= min_count.
    """
    toks = df.filter(
        F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == F.lit(group_a)).alias("is_a"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1))
        .cast("long")
        .alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    a3 = int(alpha_e3)
    # delta = ln((ca + α)/(na + Vα − ca − α)) − ln((cb + α)/(nb + Vα − cb − α))
    # var ≈ 1/(ca + α) + 1/(cb + α); z = delta / sqrt(var).
    # All ratios are exact rationals on the 1e-3 alpha grid: scale
    # numerators/denominators by 1e3 so the ln arguments are exact
    # integer ratios in both engines.
    num_a = F.col("ca") * 1000 + F.lit(a3)
    den_a = F.col("na") * 1000 + F.col("v") * F.lit(a3) - num_a
    num_b = F.col("cb") * 1000 + F.lit(a3)
    den_b = F.col("nb") * 1000 + F.col("v") * F.lit(a3) - num_b
    delta = (
        F.log(num_a.cast("double")) - F.log(den_a.cast("double"))
        - F.log(num_b.cast("double")) + F.log(den_b.cast("double"))
    )
    var = (
        F.lit(1000.0) / num_a.cast("double")
        + F.lit(1000.0) / num_b.cast("double")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("ca") + F.col("cb") >= int(min_count))
        .select(
            "term",
            F.col("ca").alias("cnt_a"),
            F.col("cb").alias("cnt_b"),
            F.floor(delta / F.sqrt(var) * 1e6)
            .cast("long")
            .alias("z_ppm"),
        )
    )


def contamination_matrix(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Per-source contamination MATRIX: for every (train_source,
    eval_source) pair, the ppm of the eval set's distinct word n-grams
    that the train source contains — :func:`ngram_coverage` answers the
    per-document question against ONE train corpus; this is the
    source-attribution version an LLM-data audit actually publishes
    (which crawl slice leaks which benchmark), composing the same
    shingle machinery over all pairs at once.

    Dataflow: both sides collapse to distinct (source, gram-hash)
    relations — grams are hashed to the portable 60-bit
    ``functions.hashing.hash60`` BEFORE the distinct, the
    duplicated_spans rationale: the two distincts and the overlap join
    then shuffle 8-byte ints instead of n-word strings (collision odds
    ~grams²/2^61, far below the ppm grid). Map-side combinable —
    O(Σ distinct grams), never doc rows; ONE hash join on the gram
    hash produces every matrix cell's overlap simultaneously (no
    per-pair passes); the eval totals join back on eval_source;
    finally the O(sources²) dense matrix is completed with a broadcast
    cross of the two source lists so zero-overlap cells appear
    explicitly as 0 ppm. Pure-integer div ppm (exact,
    engine-portable).

    Returns (train_source, eval_source, n_overlap, n_eval_grams,
    contamination_ppm), one row per source pair.
    """
    from ..functions.hashing import hash60
    from .curation import word_ngrams

    tr = (
        train.select(
            F.col(source_col).alias("train_source"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"),
        )
        .select("train_source", hash60("shingle").alias("gh"))
        .distinct()
    )
    # ev feeds both the totals (broadcast build, which fills this
    # cache) and the overlap join — left lazy the eval-side
    # shingle-explode + distinct ran twice (optimization round 10).
    ev = pin(
        eval_df.select(
            F.col(source_col).alias("eval_source"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"),
        )
        .select("eval_source", hash60("shingle").alias("gh"))
        .distinct()
    )
    totals = ev.groupBy("eval_source").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_grams")
    )
    overlap = (
        ev.join(tr, "gh")
        .groupBy("train_source", "eval_source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    dense = (
        # the train AXIS comes from the raw source column, NOT from tr:
        # re-deriving it from tr would re-run the whole shingle-explode
        # + distinct a second time (the plan showed 4 corpus scans), and
        # would silently drop a train source whose documents are all
        # shorter than n words — it belongs in the matrix with 0 ppm
        train.select(F.col(source_col).alias("train_source"))
        .distinct()
        .crossJoin(F.broadcast(totals))
    )
    return (
        # overlap is O(sources^2) rows — broadcast it so the dense
        # completion never sort-merge-shuffles two tiny relations
        dense.join(
            F.broadcast(overlap), ["train_source", "eval_source"], "left"
        )
        .select(
            "train_source",
            "eval_source",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            "n_eval_grams",
            F.expr(
                "CAST((COALESCE(n_overlap, 0) * 1000000)"
                " div n_eval_grams AS BIGINT)"
            ).alias("contamination_ppm"),
        )
    )
