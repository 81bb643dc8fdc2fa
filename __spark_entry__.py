"""Driver contract for the spark-graft builder (PySpark target).

One ``queries()`` entry per operator from SURVEY.md §2 (plus the
training-data-pipeline extensions), each with a DuckDB ``oracle_sql()``
twin. Engine code lives in ``iowa_liquor_sales_spark/``; this module only
wires operators to the synthetic tables.

Determinism conventions (SURVEY §7.3):
- money-like double aggregates go through exact DECIMAL sums and come back
  as double (``functions/sums.py``) so hashes are partition-order stable;
- every ranked/limited query has a total order (unique tiebreak column);
- cross-engine hashing uses md5-derived integers (``functions/hashing.py``);
- FP-scored similarity queries output ids/ranks, not raw scores.
"""

from __future__ import annotations

from collections.abc import Callable
import atexit
import os
import shutil
import tempfile

# q_socrata_scan staging dirs, keyed by sf dir (see that query's comment).
_SOCRATA_PAGES_CACHE: dict[str, str] = {}

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iowa_liquor_sales_spark.functions.cleansing import coerce_numeric, coerce_timestamp
from iowa_liquor_sales_spark.functions.dates import date_parts, epoch_us
from iowa_liquor_sales_spark.multimodal.binary_ops import attach_payload, extract_features
from iowa_liquor_sales_spark.operators.aggregates import (
    count_star,
    cube_summary,
    distinct_dim,
    pricing_summary,
    running_total,
    topk_per_group,
)
from iowa_liquor_sales_spark.operators.dedup import (
    dedup_by_key,
    dedup_rank,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
)
from iowa_liquor_sales_spark.operators.joins import (
    fk_violations,
    pk_duplicates,
    semi_join,
    star_join,
)
from iowa_liquor_sales_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    embedding_near_dup_pairs,
    rh_hyperplanes,
)
from iowa_liquor_sales_spark.operators.upsert import insert_ignore, merge_upsert
from iowa_liquor_sales_spark.operators.text import (
    LANG_MARKERS,
    RAKE_DELIM as _RAKE_DELIM,
    TOKEN_PATTERN,
    fingerprints,
    lang_id,
    quality_metrics,
    token_counts,
)
from iowa_liquor_sales_spark.functions.sums import (
    det_double,
    det_double_sql,
    dsum,
    floor_scaled,
    floor_scaled_sql,
    xsum,
)
from iowa_liquor_sales_spark.schemas import read_table
from iowa_liquor_sales_spark.sources.readers import read_csv, read_parquet
from iowa_liquor_sales_spark.sources.writers import write_csv
from iowa_liquor_sales_spark.streaming.events import windowed_counts_batch

SF001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers

_DEC = "CAST(SUM(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE)"


def _dsum(expr: str, scale: int = 2) -> str:
    return _DEC.format(expr=expr, scale=scale)


_SHINGLE_CTE = """
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM w WHERE len(ws) >= 3
)"""

_JACCARD_CTE = (
    _SHINGLE_CTE
    + """,
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
)"""
)


# Winnowing fingerprint relation (k=4, w=5) — shared by the per-doc
# fingerprint oracle and the cross-doc shared-fingerprint pairs oracle.
_WINNOW_CTE = """wd AS (SELECT doc_id, string_split(text, ' ') AS ws
                        FROM documents),
            g AS (SELECT doc_id,
                         list_transform(
                             generate_series(1, len(ws) - 3),
                             i -> array_to_string(list_slice(ws, i, i + 3), ' '))
                           AS grams
                  FROM wd WHERE len(ws) >= 4),
            h AS (SELECT doc_id,
                         list_transform(grams,
                             s -> CAST(('0x' || substr(md5(s), 1, 15))
                                       AS BIGINT)) AS hs
                  FROM g),
            m AS (SELECT doc_id,
                         CASE WHEN len(hs) >= 5 THEN
                                list_transform(
                                    generate_series(1, len(hs) - 4),
                                    i -> list_min(list_slice(hs, i, i + 4)))
                              ELSE [list_min(hs)] END AS mins
                  FROM h),
            wfp AS (SELECT DISTINCT doc_id, fp
                    FROM (SELECT doc_id, unnest(mins) AS fp FROM m))"""

from iowa_liquor_sales_spark.functions.hashing import affine_params as _affine_params
from iowa_liquor_sales_spark.functions.hashing import md5_hex

_MH_A, _MH_B = (
    "[" + ", ".join(str(x) for x in lst) + "]" for lst in _affine_params(32)
)


# Benford expected shares: log10(1 + 1/d) precomputed in Python and
# injected as the SAME double literal into Spark and DuckDB — libm log10
# is not correctly-rounded-guaranteed, so in-engine evaluation may differ
# per build; a parsed literal is bit-identical everywhere.
import math

_BENFORD_CASE = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({math.log10(1 + 1 / d)!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    + " END"
)


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join("1.0" if c > 0 else "-1.0" for c in plane) + "]"


def _bucket_sql(n_planes: int = 8, dim: int = 64, plane_offset: int = 0) -> str:
    from iowa_liquor_sales_spark.operators.similarity import rh_component

    terms = []
    for j in range(n_planes):
        plane = [rh_component(plane_offset + j, k) for k in range(dim)]
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_sql(plane)}) > 0 "
            f"THEN {2 ** j} ELSE 0 END)"
        )
    return " + ".join(terms)


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H-Q1-shaped pricing summary (the 'sales by
    category' rollup the reference's star schema exists to serve)."""
    return pricing_summary(read_table(spark, SF001, "lineitem"))


# ---------------------------------------------------------------- queries


def q_scan_parquet(spark: SparkSession, sf: str) -> DataFrame:
    # S4/S5: full typed parquet scan.
    return read_table(spark, sf, "lineitem")


def q_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # S2/S7: CSV sink in COPY wire format (\N nulls, no header) + typed
    # CSV scan — the reference's to_csv/read_csv round trip.
    subset = read_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        F.to_date("l_shipdate").alias("ship_date"),
    )
    path = tempfile.mkdtemp(prefix="iowa_csv_rt_")
    write_csv(subset, path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("ship_date", T.DateType()),
        ]
    )
    return read_csv(spark, path, schema, header=False, null_value="\\N")


def q_project(spark: SparkSession, sf: str) -> DataFrame:
    # P1/P5: column-subset projection (Catalyst prunes the scan to 3 cols).
    return read_table(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")


def q_filter_between(spark: SparkSession, sf: str) -> DataFrame:
    # P2: timestamp range predicate, pushed to parquet row groups.
    li = read_table(spark, sf, "lineitem")
    return li.filter(
        F.col("l_shipdate").between("1996-01-01 00:00:00", "1996-12-31 23:59:59")
    ).select(
        "l_orderkey", "l_linenumber", F.to_date("l_shipdate").alias("ship_date")
    )


def q_filter_notnull(spark: SparkSession, sf: str) -> DataFrame:
    # P4: IS NOT NULL dim filter.
    ev = read_table(spark, sf, "events")
    return ev.filter(F.col("event_type").isNotNull() & F.col("props").isNotNull()).select(
        "event_id", "event_type"
    )


def q_limit(spark: SparkSession, sf: str) -> DataFrame:
    # P3: LIMIT — made deterministic with a total order (SURVEY §7.3).
    return (
        read_table(spark, sf, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def q_count(spark: SparkSession, sf: str) -> DataFrame:
    # A3/A4: COUNT(*) load verification.
    return count_star(read_table(spark, sf, "lineitem"))


def q_cast_ts(spark: SparkSession, sf: str) -> DataFrame:
    # C1: string→timestamp coercion, malformed→NULL (src/transform.py:12).
    o = read_table(spark, sf, "orders")
    raw = F.when(F.col("o_orderkey") % 97 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    )
    # Output the parse result re-formatted (parse→format in one session is
    # TZ-identity), so the compared value is session-TZ independent.
    return o.select(
        "o_orderkey",
        F.date_format(coerce_timestamp(raw), "yyyy-MM-dd HH:mm:ss").alias(
            "parsed_ts"
        ),
    )


def q_cast_num(spark: SparkSession, sf: str) -> DataFrame:
    # C2: string→numeric coercion, malformed→NULL (src/transform.py:15-21).
    c = read_table(spark, sf, "customer")
    raw = F.when(F.col("c_custkey") % 13 == 0, F.lit("N/A")).otherwise(
        F.col("c_acctbal").cast("string")
    )
    return c.select("c_custkey", coerce_numeric(raw).alias("acct_num"))


def q_fillna(spark: SparkSession, sf: str) -> DataFrame:
    # C3: coercion + null→0 fill (src/transform.py:21).
    c = read_table(spark, sf, "customer")
    raw = F.when(F.col("c_custkey") % 13 == 0, F.lit("N/A")).otherwise(
        F.col("c_acctbal").cast("string")
    )
    return c.select(
        "c_custkey", F.coalesce(coerce_numeric(raw), F.lit(0.0)).alias("acct_filled")
    )


def q_date_dim(spark: SparkSession, sf: str) -> DataFrame:
    # D1-D6 + C4: the dim_date build (Postgres DOW convention).
    o = read_table(spark, sf, "orders")
    parts = date_parts("o_orderdate")
    return o.select(*parts).withColumnRenamed("date", "date_day").distinct()


def q_distinct_dim(spark: SparkSession, sf: str) -> DataFrame:
    # A1: SELECT DISTINCT dim extraction.
    return distinct_dim(read_table(spark, sf, "customer"), ["c_nationkey", "c_mktsegment"])


def q_dedup_key(spark: SparkSession, sf: str) -> DataFrame:
    # A2: first-wins key dedup; winner unspecified, so compare key-only.
    return dedup_by_key(read_table(spark, sf, "customer"), ["c_mktsegment"]).select(
        "c_mktsegment"
    )


def q_dedup_rank(spark: SparkSession, sf: str) -> DataFrame:
    # A2 (deterministic variant): first order per customer.
    o = read_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_totalprice"
    )
    return dedup_rank(o, ["o_custkey"], ["order_date", "o_orderkey"])


def q_pk_check(spark: SparkSession, sf: str) -> DataFrame:
    # J2: PK uniqueness violations (empty on healthy data).
    return pk_duplicates(read_table(spark, sf, "lineitem"), ["l_orderkey", "l_linenumber"])


def q_fk_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    # J1: FK validation anti-join (genuine FK — expect empty).
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    return fk_violations(li, o, "l_orderkey", "o_orderkey").select("l_orderkey", "l_linenumber")


def q_fk_violations(spark: SparkSession, sf: str) -> DataFrame:
    # J1 with an induced violation set (dim filtered to ~6/7ths).
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").filter(F.col("o_orderkey") % 7 != 0)
    return fk_violations(li, o, "l_orderkey", "o_orderkey").select("l_orderkey").distinct()


def q_groupby_agg(spark: SparkSession, sf: str) -> DataFrame:
    # The flagship rollup (GROUP BY + sum/avg/count).
    return pricing_summary(read_table(spark, sf, "lineitem"))


def q_star_join(spark: SparkSession, sf: str) -> DataFrame:
    # J1 at query time: fact ⋈ broadcast dims ⋈ ... → rollup.
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    joined = star_join(
        li,
        [
            (o, F.col("l_orderkey") == F.col("o_orderkey")),
            (c, F.col("o_custkey") == F.col("c_custkey")),
            (n, F.col("c_nationkey") == F.col("n_nationkey")),
            (r, F.col("n_regionkey") == F.col("r_regionkey")),
        ],
    )
    return (
        joined.withColumn(
            "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .groupBy("r_name", "n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.sum(F.col("disc_price").cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_semijoin(spark: SparkSession, sf: str) -> DataFrame:
    # EXISTS-style semi join: customers with ≥1 order in 1995.
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").filter(F.year("o_orderdate") == 1995)
    return semi_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_custkey", "c_name"
    )


def _year_custkeys(spark: SparkSession, sf: str, year: int) -> DataFrame:
    o = read_table(spark, sf, "orders")
    return o.filter(F.year("o_orderdate") == year).select("o_custkey").distinct()


def q_set_union(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _year_custkeys(spark, sf, 1995)
        .union(_year_custkeys(spark, sf, 1996))
        .distinct()
    )


def q_set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    return _year_custkeys(spark, sf, 1995).intersect(_year_custkeys(spark, sf, 1996))


def q_set_except(spark: SparkSession, sf: str) -> DataFrame:
    return _year_custkeys(spark, sf, 1995).subtract(_year_custkeys(spark, sf, 1996))


def q_topk_pergroup(spark: SparkSession, sf: str) -> DataFrame:
    # Window top-k: 5 richest customers per market segment.
    c = read_table(spark, sf, "customer").select("c_mktsegment", "c_custkey", "c_acctbal")
    return topk_per_group(
        c, ["c_mktsegment"], [F.col("c_acctbal").desc(), F.col("c_custkey")], 5
    )


def q_window_running(spark: SparkSession, sf: str) -> DataFrame:
    # Cumulative window aggregate (exact decimal accumulation).
    o = read_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_totalprice"
    )
    return running_total(o, ["o_custkey"], ["order_date", "o_orderkey"], "o_totalprice")


def q_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q3 shape: selective dim filters + star join + rollup + top-k.
    # Catalyst pushes all three filters into the scans; dims broadcast.
    c = read_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1996-06-30")
    )
    li = read_table(spark, sf, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1996-06-30")
    )
    joined = star_join(
        li,
        [
            (o, F.col("l_orderkey") == F.col("o_orderkey")),
            (c, F.col("o_custkey") == F.col("c_custkey")),
        ],
    )
    return (
        joined.withColumn(
            "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.sum(F.col("disc_price").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_conditional_agg(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q14 shape: CASE-gated aggregate ratio (promo revenue share).
    li = read_table(spark, sf, "lineitem").filter(
        F.to_date("l_shipdate").between("1996-01-01", "1996-01-31")
    )
    p = read_table(spark, sf, "part")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    agg = j.agg(
        F.sum(promo.cast("decimal(18,4)")).cast("double").alias("promo_revenue"),
        F.sum(disc.cast("decimal(18,4)")).cast("double").alias("total_revenue"),
    )
    return agg.withColumn(
        "promo_share", F.col("promo_revenue") / F.col("total_revenue")
    )


def q_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    # String expression surface (upper/lower/length/substring/concat/
    # replace/lpad/regexp_extract) — all JVM codegen, no UDFs.
    c = read_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").cast("int").alias("name_len"),
        F.substring("c_name", 1, 5).alias("name_head"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.replace(F.col("c_name"), F.lit("0"), F.lit("O")).alias("name_o"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
    )


def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    # JSON path extraction over the events props column.
    ev = read_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
    )


def q_socrata_scan(spark: SparkSession, sf: str) -> DataFrame:
    # S1/S3: the paged Socrata-style Python DataSource (sources/socrata):
    # customer staged as CSV pages (the HTTP wire format), scanned back
    # with one Spark partition per page, typed in the silver layer. The
    # oracle is the original table — a pure round-trip identity, which is
    # exactly the reference extract stage's correctness contract.
    from iowa_liquor_sales_spark.sources.socrata import SocrataPagedDataSource
    from iowa_liquor_sales_spark.sources.writers import write_csv

    c = read_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    # Stage the pages ONCE per sf dir and clean up at interpreter exit —
    # repeated sweeps/bench runs were leaking a fresh mkdtemp per call.
    pages = _SOCRATA_PAGES_CACHE.get(sf)
    if pages is None or not os.path.isdir(pages):
        pages = tempfile.mkdtemp(prefix="iowa_socrata_pages_")
        atexit.register(shutil.rmtree, pages, ignore_errors=True)
        write_csv(c.repartition(8), pages, header=True)
        _SOCRATA_PAGES_CACHE[sf] = pages
    spark.dataSource.register(SocrataPagedDataSource)
    raw = (
        spark.read.format("socrata_paged")
        .schema(
            "c_custkey string, c_name string, c_acctbal string, "
            "c_mktsegment string"
        )
        .option("pages_dir", pages)
        .load()
    )
    return raw.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )


def q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    # Binary->binary resize through the Arrow mapInPandas path
    # (multimodal/binary_ops.resize_images). The stub codec cycles
    # payload bytes to exactly target_w*target_h=256; over pure-ASCII
    # text that equals repeat-then-truncate, so the oracle reproduces
    # the bytes with repeat()+substr() and the comparison is bit-exact.
    from iowa_liquor_sales_spark.multimodal.binary_ops import resize_images

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    resized = resize_images(attach_payload(docs), target_w=16, target_h=16)
    return resized.select(
        "doc_id",
        F.col("payload").cast("string").alias("resized_txt"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


def q_upsert(spark: SparkSession, sf: str) -> DataFrame:
    # A2 into an EXISTING table: INSERT ... ON CONFLICT DO NOTHING
    # (existing rows win, new keys inserted) via anti-join + union.
    c = read_table(spark, sf, "customer").select("c_custkey", "c_name")
    target = c.filter(F.col("c_custkey") % 2 == 0)
    incoming = c.select("c_custkey", F.upper("c_name").alias("c_name"))
    return insert_ignore(target, incoming, ["c_custkey"])


def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    # Multi-grain rollup: CUBE(returnflag, linestatus) — all subtotal
    # combinations in one shuffle (Expand + hash aggregate).
    return cube_summary(
        read_table(spark, sf, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
    )


def q_exists_agg(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q4 shape: EXISTS with a correlated non-equi predicate, then
    # aggregate. Planned as a semi join on (equi key AND theta condition).
    o = read_table(spark, sf, "orders")
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def q_outer_count_dist(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q13 shape: LEFT OUTER join + COUNT(col) null semantics
    # (customers with zero orders count as c_count = 0), then a second
    # aggregate over the counts.
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_null_semantics(spark: SparkSession, sf: str) -> DataFrame:
    # Null-semantics torture: NULL group keys (grouped together),
    # COUNT(col) vs COUNT(*) under nulls, null-masked exact sums.
    o = read_table(spark, sf, "orders")
    st = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    masked = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    return (
        o.select(st.alias("status_n"), masked.alias("masked_price"))
        .groupBy("status_n")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("masked_price").alias("n_nonnull"),
            F.sum(F.col("masked_price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_masked"),
        )
    )


def q_rollup_year(spark: SparkSession, sf: str) -> DataFrame:
    # Hierarchical subtotals (year -> year,status -> grand total): one
    # Expand + single-shuffle hash aggregate, like CUBE.
    o = read_table(spark, sf, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .rollup("order_year", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_offset(spark: SparkSession, sf: str) -> DataFrame:
    # P3's other half: OFFSET pagination (deterministic under a total
    # order). Pagination is an anti-pattern at scale — partitioning
    # replaces it — but the surface exists (Spark ≥3.4 offset).
    return (
        read_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .offset(100)
        .limit(50)
    )


def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    # Exact interpolated percentiles per group (median / p90), computed
    # as EXPLICIT integer order statistics: index k*(n-1)/q is carried as
    # the integer pair (k*(n-1) div q, k*(n-1) mod q) and the
    # PERCENTILE_CONT interpolation (q-r)*lo + r*hi is evaluated in
    # exact integer arithmetic, scaled by q. Native percentile() over
    # doubles interpolates with an engine-specific float formula — at
    # p90 the fraction (tenths) is not binary-representable, so rounded
    # outputs could diverge per build. One window pass per measure.
    li = read_table(spark, sf, "lineitem")

    def ostat(value_col, q_den, out):
        # value_col: exact integer measure; q_den: fraction denominator
        # (2 for median, 10 for p90 with k=9). Emits value*q_den BIGINT.
        k_num = 1 if q_den == 2 else 9
        staged = li.select(
            "l_returnflag",
            value_col.alias("v"),
            "l_orderkey",
            "l_linenumber",
        ).select(
            "l_returnflag",
            "v",
            F.row_number()
            .over(
                Window.partitionBy("l_returnflag").orderBy(
                    "v", "l_orderkey", "l_linenumber"
                )
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("l_returnflag"))
            .alias("n"),
        )
        idx = k_num * (F.col("n") - 1)
        lo_rank = F.expr(f"{k_num} * (n - 1) div {q_den}") + 1
        r = idx % q_den
        return (
            staged.filter(
                (F.col("rn") == lo_rank) | (F.col("rn") == lo_rank + 1)
            )
            .groupBy("l_returnflag")
            .agg(
                F.max(F.when(F.col("rn") == lo_rank, F.col("v"))).alias("lo"),
                F.max(F.when(F.col("rn") == lo_rank + 1, F.col("v"))).alias(
                    "hi"
                ),
                F.first(r).alias("r"),
            )
            .select(
                "l_returnflag",
                (
                    (q_den - F.col("r")) * F.col("lo")
                    + F.col("r") * F.coalesce(F.col("hi"), F.lit(0))
                ).alias(out),
            )
        )

    med = ostat(F.round("l_quantity").cast("long"), 2, "median_qty_x2")
    p90 = ostat(
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        10,
        "p90_price_x10c",
    )
    return med.join(p90, "l_returnflag")


def q_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # Exact distinct aggregates (Catalyst expands to a two-level aggregate).
    o = read_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_stats_agg(spark: SparkSession, sf: str) -> DataFrame:
    # Moment aggregates (stddev / mean / Pearson corr) from EXACT
    # integer-cent sums — order-independent in any engine, unlike native
    # Welford accumulators — finished by a fixed-shape double formula
    # using only + - * / sqrt (each IEEE-deterministic) and emitted as
    # floor-scaled BIGINTs. Bitwise-stable under the driver's value hash
    # on any engine build; still one map-side-combinable aggregate.
    c = read_table(spark, sf, "customer")
    cb = F.round(F.col("c_acctbal") * 100).cast("long")
    g = (
        c.select(
            "c_mktsegment",
            cb.alias("cb"),
            F.col("c_nationkey").cast("long").alias("nk"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            xsum("cb", "s_"),
            xsum(F.col("cb") * F.col("cb"), "ss_"),
            xsum("nk", "sy_"),
            xsum(F.col("nk") * F.col("nk"), "syy_"),
            xsum(F.col("cb") * F.col("nk"), "sxy_"),
        )
        .select(
            "c_mktsegment",
            "n",
            det_double("s_").alias("s"),
            det_double("ss_").alias("ss"),
            det_double("sy_").alias("sy"),
            det_double("syy_").alias("syy"),
            det_double("sxy_").alias("sxy"),
        )
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    sd = F.sqrt((ss - s * s / n) / (n - 1))
    corr = (n * sxy - s * sy) / (
        F.sqrt(n * ss - s * s) * F.sqrt(n * syy - sy * sy)
    )
    return g.select(
        "c_mktsegment",
        floor_scaled(sd, 4, "sd_acctbal_micro"),
        floor_scaled(s / n, 4, "mean_acctbal_micro"),
        floor_scaled(corr, 9, "corr_bal_nation_ppb"),
    )


def q_wordcount(spark: SparkSession, sf: str) -> DataFrame:
    # The canonical explode: top-20 corpus word frequencies.
    docs = read_table(spark, sf, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    # Pivot with an explicit value list (bounded-width contract — an
    # unbounded pivot is a driver-side distinct scan at scale).
    ev = read_table(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


# ---- training-data-pipeline extensions: dedup family


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup(read_table(spark, sf, "documents"), "text", "doc_id")


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # The df cap is passed as an absolute count derived from the (metadata-
    # fast) corpus row count — the fractional form would spend a distinct-
    # count pass over the exploded shingle relation to learn the same N.
    docs = read_table(spark, sf, "documents")
    cap = max(1, int(0.05 * docs.count()))
    sh = shingles(docs, "text", "doc_id", n=3)
    return jaccard_pairs(sh, min_jaccard=0.5, max_df=cap)


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_lsh_pairs(
        read_table(spark, sf, "documents"),
        "text",
        "doc_id",
        n=3,
        num_hashes=32,
        rows_per_band=4,
        min_jaccard=0.8,
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return simhash(read_table(spark, sf, "documents"), "text", "doc_id")


def q_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_near_dup_pairs(read_table(spark, sf, "embeddings"), min_cosine=0.45)


# ---- similarity search


def q_ann_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_table(spark, sf, "embeddings")
    # vec_id is unique: collecting the filtered scan is one job over every
    # file, where head() ran a second job whenever the first partition
    # scanned did not hold vec_id 0 (file listing order).
    (probe,) = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in probe["embedding"]]
    return brute_force_topk(emb, qvec, k=10, exclude_ids=[0]).select("vec_id", "rnk")


def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_table(spark, sf, "embeddings")
    return ann_lsh_topk(
        emb, query_id=0, k=10, n_planes=6, n_tables=4, dim=64
    ).select("vec_id", "rnk")


def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from iowa_liquor_sales_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf, "embeddings")
    return ivf_topk(emb, query_id=0, k=10, n_cells=16).select("vec_id", "rnk")


# ---- text analysis


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    return quality_metrics(read_table(spark, sf, "documents"))


def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    return token_counts(read_table(spark, sf, "documents"))


def q_geo_radius_join(spark: SparkSession, sf: str) -> DataFrame:
    # Geo radius join: customer/supplier pairs within 300 km, via a
    # LATITUDE-BAND prefilter (3-degree integer bands; 1 deg latitude is
    # a uniform ~111.2 km, so a +-1-band neighborhood provably covers the
    # radius at every latitude — unlike fixed lon cells, which shrink
    # toward the poles) and an exact haversine verify on the candidates.
    # Bands are an equi-join key: candidates are O(N*M/#bands), never the
    # cross product; the verify emits an integer meter grid.
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    clat = ((F.col("c_custkey") % 120) - 60 + F.lit(0.25)).cast("double")
    clon = (((F.col("c_custkey") * 7) % 360) - 180 + F.lit(0.25)).cast("double")
    slat = ((F.col("s_suppkey") % 100) - 50 + F.lit(0.5)).cast("double")
    slon = (((F.col("s_suppkey") * 11) % 360) - 180 + F.lit(0.5)).cast("double")
    cc = c.select(
        "c_custkey",
        clat.alias("clat"),
        clon.alias("clon"),
        F.floor(clat / 3).cast("int").alias("band"),
    )
    ss = s.select(
        "s_suppkey",
        slat.alias("slat"),
        slon.alias("slon"),
        F.explode(
            F.array(
                F.floor(slat / 3).cast("int") - 1,
                F.floor(slat / 3).cast("int"),
                F.floor(slat / 3).cast("int") + 1,
            )
        ).alias("band"),
    )
    j = cc.join(F.broadcast(ss), "band")
    dphi = F.radians(F.col("clat") - F.col("slat"))
    dlmb = F.radians(F.col("clon") - F.col("slon"))
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(F.radians(F.col("slat")))
        * F.cos(F.radians(F.col("clat")))
        * F.sin(dlmb / 2)
        * F.sin(dlmb / 2)
    )
    dist_m = F.floor(
        F.lit(2.0) * F.lit(6371000.0) * F.asin(F.sqrt(a)) + 0.5
    ).cast("long")
    return (
        j.withColumn("dist_m", dist_m)
        .filter(F.col("dist_m") < 300000)
        .select("c_custkey", "s_suppkey", "dist_m")
    )


def q_embed_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Embedding-similarity decontamination (operators/curation.
    # embedding_decontaminate): every 20th vector plays the eval set;
    # corpus vectors with cosine >= 0.9 to any eval vector are flagged.
    # All-integer cosine threshold (DECIMAL(38,0) cross-multiplication),
    # broadcast eval side — the semantic twin of q_decontaminate.
    from iowa_liquor_sales_spark.operators.curation import (
        embedding_decontaminate,
    )

    emb = read_table(spark, sf, "embeddings")
    return embedding_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        tau_centi=90,
    )


def q_conversion_funnel(spark: SparkSession, sf: str) -> DataFrame:
    # Ordered conversion funnel view -> click -> purchase: each stage's
    # timestamp must STRICTLY follow the previous stage's first hit (the
    # product-analytics sequence-funnel, not independent event counts).
    # ONE user-partitioned shuffle total: the three stage times are
    # nested full-partition window mins (t2 = min click ts > t1, each
    # referencing the previous materialized column), and the per-user
    # rollup reuses the same hash partitioning — no joins, no rescans.
    ev = read_table(spark, sf, "events").select("user_id", "event_type", "ts")
    wu = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    agg = per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    )
    # Zero-denominator guards: on an empty funnel Spark's 0/0 yields
    # NULL while DuckDB errors on CAST(floor(nan) AS BIGINT) — both
    # sides emit NULL explicitly instead (mirrored CASE in the oracle).
    return agg.select(
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        F.when(
            F.col("n_view") > 0,
            F.floor(
                F.col("n_click_after_view") / F.col("n_view") * F.lit(1e6)
            ),
        )
        .cast("long")
        .alias("view_to_click_ppm"),
        F.when(
            F.col("n_click_after_view") > 0,
            F.floor(
                F.col("n_purchase_after_click")
                / F.col("n_click_after_view")
                * F.lit(1e6)
            ),
        )
        .cast("long")
        .alias("click_to_purchase_ppm"),
    )


def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    # Weekly retention cohorts: users grouped by first-active week, then
    # per (cohort, weeks-since) the share still active — the standard
    # growth-analytics triangle. Distinct (user, week) first (bounds the
    # state at users x weeks), min-week cohorts join back on user_id,
    # shares are exact-integer ppm floors. k=0 row is the cohort itself.
    ev = read_table(spark, sf, "events")
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date")) / 7
    ).cast("int")
    active = ev.select("user_id", wk.alias("wk")).distinct()
    cohort = active.groupBy("user_id").agg(F.min("wk").alias("cw"))
    sizes = cohort.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    joined = (
        active.join(cohort, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("week_k"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(sizes, "cw")
    )
    return joined.select(
        F.col("cw").alias("cohort_week"),
        F.col("week_k").cast("int").alias("week_k"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.floor(F.col("n_active") / F.col("cohort_size") * F.lit(1e6))
        .cast("long")
        .alias("retention_ppm"),
    )


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    # DSIR importance weights toward the lang='en' slice
    # (operators/curation.dsir_logweights): per-word smoothed log-ratio
    # floor-scaled to integers before the exact per-doc int64 sum — the
    # data-selection resampling signal, one explode + one vocab join.
    from iowa_liquor_sales_spark.operators.curation import dsir_logweights

    d = read_table(spark, sf, "documents")
    return dsir_logweights(d, d.filter(F.col("lang") == "en"))


def q_hits(spark: SparkSession, sf: str) -> DataFrame:
    # HITS hubs/authorities (graph.hits_e6) on the directed
    # customer->supplier purchase graph, 2 unrolled iterations.
    # Max-renormalized integer grid (floor-div by each half-round's
    # maximum) replaces the L2 norm: ranking-equivalent, bit-identical
    # in every engine, no sqrt/float sums. Top-20 authorities.
    from iowa_liquor_sales_spark.operators.graph import hits_e6

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        li.join(F.broadcast(o), o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return (
        hits_e6(e, iters=2)
        .orderBy(F.col("auth_e6").desc(), F.col("hub_e6").desc(), F.col("node"))
        .limit(20)
    )


def q_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    # Heaps'-law vocabulary growth curve (text.vocab_growth): cumulative
    # distinct-word count at 10 doc-id-threshold grid points, computed
    # from each word's FIRST-occurrence doc id — two aggregates + a
    # 10-row broadcast grid, never a global sort or running window.
    from iowa_liquor_sales_spark.operators.text import vocab_growth

    return vocab_growth(read_table(spark, sf, "documents"))


def q_dwell_time(spark: SparkSession, sf: str) -> DataFrame:
    # Per-event-type dwell time: microseconds until the SAME user's next
    # event (lead over one user-partitioned window, deterministic
    # (ts, event_id) order), rolled up to exact integer totals and a
    # floor-div mean. The time-in-state building block for session UX
    # analytics; one shuffle on user_id, one on event_type.
    ev = read_table(spark, sf, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.withColumn(
        "dwell_us", epoch_us(F.lead("ts").over(w)) - epoch_us("ts")
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.count("dwell_us").alias("n_followed"),
            F.sum("dwell_us").cast("long").alias("total_dwell_us"),
        )
        .withColumn(
            "mean_dwell_us",
            F.expr("total_dwell_us div greatest(n_followed, 1)"),
        )
    )


def q_supplier_hindex(spark: SparkSession, sf: str) -> DataFrame:
    # Per-supplier h-index over line quantities: the largest h such that
    # the supplier has h lines with quantity >= h (the citation h-index
    # transplanted to order-size concentration). One supplier-partitioned
    # ranking window; the argmax is an integer MAX over rank<=qty rows —
    # no iteration, no driver state. Suppliers with h >= 30 only, so the
    # output stays small at any scale factor.
    li = read_table(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    qty = li.select(
        "l_suppkey", F.col("l_quantity").cast("long").alias("qty")
    )
    # qty DESC alone is a sufficient order: row numbers among ties are
    # arbitrary, but the h-index depends only on the sorted multiset of
    # quantities, so MAX(rnk | rnk <= qty) is tie-order invariant.
    w = Window.partitionBy("l_suppkey").orderBy(F.col("qty").desc())
    ranked = qty.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.filter(F.col("rnk") <= F.col("qty"))
        .groupBy("l_suppkey")
        .agg(F.max("rnk").cast("long").alias("h_index"))
        .filter(F.col("h_index") >= 30)
    )


def q_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    # Content-defined chunking (operators/dedup.cdc_chunks) + per-source
    # chunk-level dedup stats: boundaries at content-hash==0 (mod 64)
    # 16-grams, per-chunk hashes computed inside per-row HOFs (text never
    # replicated across chunk rows), then the only shuffles are the
    # chunk-hash dedup aggregate and a doc->source attach.
    from iowa_liquor_sales_spark.operators.dedup import cdc_chunks

    d = read_table(spark, sf, "documents")
    ch = cdc_chunks(d).join(d.select("doc_id", "source"), "doc_id")
    per_hash = ch.groupBy("source", "chunk_hash").agg(
        F.count(F.lit(1)).alias("n"), F.min("chunk_len").alias("clen")
    )
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
            F.sum(F.col("n") * F.col("clen")).cast("long").alias("total_bytes"),
            F.sum("clen").cast("long").alias("unique_bytes"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("(n_chunks - n_unique_chunks) * 1000000 div n_chunks"),
        )
    )


def q_kcenter(spark: SparkSession, sf: str) -> DataFrame:
    # Greedy k-center diversity selection (similarity.kcenter_greedy):
    # 4 farthest-point rounds over e3-quantized embeddings, exact int64
    # squared distances, O(k) driver state; chained-CTE oracle replays
    # the identical greedy trajectory.
    from iowa_liquor_sales_spark.operators.similarity import kcenter_greedy

    return kcenter_greedy(read_table(spark, sf, "embeddings"), k=4)


def q_sssp(spark: SparkSession, sf: str) -> DataFrame:
    # Weighted single-source shortest paths (graph.sssp_rounds): 3
    # unrolled Bellman-Ford rounds over the symmetric customer<->supplier
    # graph, edge weight = min line price in exact cents. Same
    # pre-partitioned-edges shape and chained-CTE oracle convention as
    # q_bfs_hops, generalized to integer weights.
    from iowa_liquor_sales_spark.operators.graph import sssp_rounds

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    e0 = (
        li.join(F.broadcast(o), o.o_orderkey == li.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(
            F.min(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "w"
            )
        )
    )
    sym = e0.unionByName(
        e0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    return sssp_rounds(sym, source=2, iters=3)


def q_weighted_topk_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Efraimidis-Spirakis A-ES weighted sampling without replacement
    # (operators/sampling.weighted_topk_sample): exact-size-100 sample of
    # documents with inclusion probability proportional to length —
    # content-keyed deterministic keys, global top-k via
    # TakeOrderedAndProject (never a full sort).
    from iowa_liquor_sales_spark.operators.sampling import weighted_topk_sample

    d = read_table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return weighted_topk_sample(
        d, "doc_id", F.col("n_chars"), k=100
    ).select("doc_id", "source", "n_chars", "sel_key_e9")


def q_burst_detect(spark: SparkSession, sf: str) -> DataFrame:
    # Kleinberg-style burst segmentation (operators/temporal.
    # burst_segments): per event type, hot days (count > 2x mean, exact
    # integer cross-multiply) feed a 2-state min-cost automaton solved as
    # ONE tropical-semiring matrix fold per key — sequential Viterbi
    # semantics, associative execution, list_reduce replay in the oracle.
    from iowa_liquor_sales_spark.operators.temporal import burst_segments

    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("nd")
    )
    hot = daily.join(tot, "event_type").select(
        "event_type",
        "day",
        (F.col("n") * F.col("nd") > 2 * F.col("total"))
        .cast("int")
        .alias("hot"),
    )
    return burst_segments(hot, "event_type", "day", "hot")


def q_scene_changes(spark: SparkSession, sf: str) -> DataFrame:
    # Shot-boundary detection (multimodal/binary_ops.scene_changes):
    # consecutive-frame L1 byte deltas inside Arrow mapInPandas, only
    # O(frames) rows leave the executors. ASCII payloads make the numpy
    # path bit-checkable against a pure-SQL ord() oracle.
    from iowa_liquor_sales_spark.multimodal.binary_ops import scene_changes

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    return scene_changes(attach_payload(docs))


def q_keyframes(spark: SparkSession, sf: str) -> DataFrame:
    # Keyframe selection for VLM-training frame sampling: per video-
    # shaped payload, the top-2 frames by scene-change magnitude
    # (multimodal/binary_ops.scene_changes scores -> a per-doc
    # rank-limited window; deterministic ties on frame_idx). Only
    # O(frames) rows ever leave the executors; payload bytes never
    # shuffle.
    from iowa_liquor_sales_spark.multimodal.binary_ops import scene_changes

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    sc = scene_changes(attach_payload(docs))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("delta_l1").desc(), F.col("frame_idx")
    )
    return (
        sc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 2)
        .select("doc_id", "rnk", "frame_idx", "delta_l1")
    )


def q_twap(spark: SparkSession, sf: str) -> DataFrame:
    # Time-weighted average value per event type (the TWAP primitive):
    # each event's value holds until the SAME user's next event; exact
    # integer value-cents x dwell-micros products, floor-div mean. One
    # user-window pass + one small aggregate — same shuffle shape as
    # q_dwell_time but value-weighted. The cents x micros products are
    # ~1e13 per ROW, so both the product and its sum run in
    # DECIMAL(38,0) (an int64 sum wraps within ~1e6 rows per type) and
    # the raw sums are emitted through the det_double hi/lo split —
    # exact integers below 2^53, deterministic bits beyond.
    ev = read_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        (epoch_us(F.lead("ts").over(w)) - epoch_us("ts")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return (
        d.groupBy("event_type")
        .agg(
            xsum(
                F.col("v_cents").cast("decimal(20,0)") * F.col("dt_us"),
                "vt_sum_x",
            ),
            xsum("dt_us", "t_sum_x"),
        )
        .select(
            "event_type",
            det_double("vt_sum_x").alias("vt_sum"),
            det_double("t_sum_x").alias("t_sum"),
            F.expr(
                "vt_sum_x div greatest(t_sum_x, CAST(1 AS DECIMAL(38,0)))"
            ).alias("twap_cents"),
        )
    )


def q_bucket_diff(spark: SparkSession, sf: str) -> DataFrame:
    # Anti-entropy bucket diff (operators/quality.bucket_checksum_diff):
    # locate replication drift between two table versions with
    # O(n_buckets) comparison rows — the drifted side drops every
    # o_orderkey % 997 == 3 row, and only the touched buckets surface.
    from iowa_liquor_sales_spark.operators.quality import bucket_checksum_diff

    o = read_table(spark, sf, "orders")
    drifted = o.filter(F.col("o_orderkey") % 997 != 3)
    return bucket_checksum_diff(
        o, drifted, "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus"], n_buckets=64,
    ).orderBy("bucket")


def q_fuzzy_names(spark: SparkSession, sf: str) -> DataFrame:
    # Fuzzy self-match (operators/joins.fuzzy_pairs) over the distinct
    # part-name dictionary: levenshtein <= 3 pairs found via PassJoin
    # pigeonhole segment blocking — d+1 segments of the shorter name,
    # equi-joined on (partner_len, seg_id, seg_text) with a +-d shift
    # window, provably complete (d edits cannot touch all d+1 segments);
    # the oracle runs the prefilter-FREE all-pairs version to prove the
    # blocking drops nothing.
    from iowa_liquor_sales_spark.operators.joins import fuzzy_pairs

    return fuzzy_pairs(read_table(spark, sf, "part"), "p_name", max_dist=3)


def q_dp_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # Laplace-mechanism DP count release (operators/quality.dp_noisy_counts)
    # over the event_type x day-of-week histogram: sensitivity-1 counts +
    # inverse-CDF noise from an exact dyadic uniform (only libm ln can
    # wobble, absorbed by the e6 floor grid). Deterministic noise stream
    # by design — see the operator docstring's privacy caveat.
    from iowa_liquor_sales_spark.functions.dates import pg_dow
    from iowa_liquor_sales_spark.operators.quality import dp_noisy_counts

    ev = read_table(spark, sf, "events").select(
        "event_type", pg_dow("ts").alias("dow")
    )
    return dp_noisy_counts(ev, ["event_type", "dow"], epsilon=1.0)


def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Intra-document repetition signals (operators/text.repetition_stats):
    # the Gopher repetition-filter family — top-bigram coverage and
    # duplicated-5-gram token coverage as an exact interval union off one
    # LAG window (monotone fixed-length intervals need no fold).
    from iowa_liquor_sales_spark.operators.text import repetition_stats

    return repetition_stats(read_table(spark, sf, "documents"))


def q_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher-rule heuristic quality filter (operators/text.gopher_quality):
    # word-count / mean-word-length / alpha-fraction / stopword rules,
    # every threshold an integer cross-multiplication — the standard
    # pre-training filter pass, zero-shuffle expression layer.
    from iowa_liquor_sales_spark.operators.text import gopher_quality

    return gopher_quality(read_table(spark, sf, "documents"))


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    return lang_id(read_table(spark, sf, "documents"))


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return fingerprints(read_table(spark, sf, "documents"))


# ---- events: windowed aggregation + sessionization


def q_events_window(spark: SparkSession, sf: str) -> DataFrame:
    # Window start exported as epoch micros: instant-based, so the compared
    # value is independent of the (driver-controlled) session timezone.
    return windowed_counts_batch(read_table(spark, sf, "events")).select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_us("ts") - epoch_us(F.lag("ts").over(w)) > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wcum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        epoch_us(F.min("ts")).alias("session_start_us"),
        (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))).alias("duration_us"),
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    # As-of join (operators/temporal.asof_join): each purchase event picks
    # up the user's most recent click at-or-before it. Union+window plan —
    # one shuffle on user_id, no non-equi pair blowup. The right side is
    # deterministically deduped per (user_id, ts) so the oracle agrees on
    # tie winners.
    from iowa_liquor_sales_spark.operators.dedup import dedup_rank
    from iowa_liquor_sales_spark.operators.temporal import asof_join

    ev = read_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = dedup_rank(
        ev.filter(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts", "value"
        ),
        ["user_id", "ts"],
        ["event_id"],
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_time="ts", right_time="ts"
    )
    return out.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("purchase_ts_us"),
        F.col("r_event_id").alias("click_event_id"),
        F.col("r_value").alias("click_value"),
    )


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    # Bucketed interval join (operators/temporal.range_join): sliding
    # 2-week windows hopping 1 week (overlapping — every event matches two
    # windows), counts + exact sums per window. Windows derive from the
    # data's own epoch-week span, so the query is scale-free.
    from iowa_liquor_sales_spark.operators.temporal import range_join

    WEEK_US = 7 * 86_400 * 1_000_000
    ev = read_table(spark, sf, "events").select(
        epoch_us("ts").alias("us"), "value"
    )
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    windows = bounds.select(
        F.explode(
            F.sequence(
                F.expr(f"lo div {WEEK_US} - 1"), F.expr(f"hi div {WEEK_US}")
            )
        ).alias("k")
    ).select(
        (F.col("k") * WEEK_US).alias("w_start"),
        ((F.col("k") + 2) * WEEK_US).alias("w_end"),
    )
    joined = range_join(ev, windows, "us", "w_start", "w_end", bucket_width=WEEK_US)
    return joined.groupBy("w_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", alias="sum_value"),
    )


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    # Near-dup pairs -> duplicate CLUSTERS via distributed connected
    # components (operators/graph): every clustered doc labeled with its
    # canonical keeper (min doc id of the component). Oracle = recursive
    # CTE transitive closure over the same exact-Jaccard pair graph.
    from iowa_liquor_sales_spark.operators.dedup import jaccard_pairs, shingles
    from iowa_liquor_sales_spark.operators.graph import dedup_clusters

    docs = read_table(spark, sf, "documents")
    cap = max(1, int(0.05 * docs.count()))
    pairs = jaccard_pairs(
        shingles(docs, "text", "doc_id", n=3), min_jaccard=0.5, max_df=cap
    )
    return dedup_clusters(pairs)


def q_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    # Top-5 TF-IDF terms per document (operators/text.tfidf_top_terms).
    # Scores on an integer 1e-6 grid so cross-engine ln() ulp differences
    # can't flip ranks (determinism conventions, module docstring).
    from iowa_liquor_sales_spark.operators.text import tfidf_top_terms

    docs = read_table(spark, sf, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=5)


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    # GROUPING SETS — the general form of CUBE/ROLLUP: one Expand + one
    # hash aggregate, single shuffle for all three grains.
    li = read_table(spark, sf, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            dsum("l_quantity", 2, "sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    # lag/lead window navigation: per-user gap to the previous event and
    # time to the next (TZ-independent epoch-us per engine conventions).
    from pyspark.sql import Window

    ev = read_table(spark, sf, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    return ev.select(
        "user_id",
        "event_id",
        (us - epoch_us(F.lag("ts").over(w))).alias("gap_us"),
        (epoch_us(F.lead("ts").over(w)) - us).alias("next_us"),
    )


def q_ntile(spark: SparkSession, sf: str) -> DataFrame:
    # NTILE quartiles of customers by balance (total order via custkey
    # tiebreak) + per-quartile aggregate.
    from pyspark.sql import Window

    c = read_table(spark, sf, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("c_acctbal", 2, "sum_bal"),
        )
    )


def q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # Fixed-width histogram of order totals. Integer bucket arithmetic
    # (floor of an exact-at-the-boundary division) — width_bucket's
    # internal (v-min)/(max-min)*n float path can put boundary values in
    # different buckets across engines.
    o = read_table(spark, sf, "orders")
    return (
        o.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / F.lit(30000.0)).cast("int")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_table_checksum(spark: SparkSession, sf: str) -> DataFrame:
    # Order-independent content digest (operators/quality.table_checksum):
    # XOR of row hashes — partitioning/row-order/engine independent, so
    # the oracle computes the identical digest.
    from iowa_liquor_sales_spark.operators.quality import table_checksum

    li = read_table(spark, sf, "lineitem")
    return table_checksum(
        li, ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"]
    )


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    # Pretraining sequence packing (operators/sampling.pack_sequences):
    # greedy token-budget fill in content-hash order — deterministic
    # layout, one shuffle, skew bounded by shard count.
    from iowa_liquor_sales_spark.operators.sampling import pack_sequences

    docs = read_table(spark, sf, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("toks")
    )
    return pack_sequences(docs, "toks", "doc_id", budget=512, shards=8)


def q_scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    # Scalar subquery: orders above the global average total, counted per
    # priority. The scalar aggregate is a 1-row broadcast (Catalyst plans
    # the uncorrelated subquery as a separate tiny stage) — exact decimal
    # avg so the threshold is partition-order stable.
    # x > sum/n rewritten as x*n > sum: exact decimal/integer arithmetic —
    # engines disagree on decimal-division result scale, never on these.
    o = read_table(spark, sf, "orders")
    tot = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        o.crossJoin(F.broadcast(tot))
        .filter(
            F.col("o_totalprice").cast("decimal(18,2)") * F.col("n_orders")
            > F.col("sum_total")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


def q_resample_ffill(spark: SparkSession, sf: str) -> DataFrame:
    # Hypertable-style gap fill: hourly grid per user, last observation
    # per bucket, forward-filled across empty buckets
    # (operators/temporal.resample_ffill).
    from iowa_liquor_sales_spark.operators.temporal import resample_ffill

    ev = read_table(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    return resample_ffill(ev, "ts", "user_id", "value", bucket_us=3_600_000_000)


def q_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    # One exact Lloyd iteration of k-means on the int-1e-6 grid
    # (operators/clustering): md5-content-hash seeding, exact int64
    # distances, floor-div centroid update — fully deterministic, so the
    # DuckDB oracle unrolls the identical iteration in SQL. The declared
    # query returns the post-update assignment of every vector.
    from iowa_liquor_sales_spark.operators.clustering import kmeans_e6

    emb = read_table(spark, sf, "embeddings")
    assigned, _ = kmeans_e6(emb, "embedding", "vec_id", k=4, iters=1)
    return assigned


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    # Ordered conversion funnel: signup -> first click after signup ->
    # first purchase after that click, per user; one row per step with
    # the surviving-user count. Each step is a per-user min over a
    # filtered event set — all map-side-combinable aggregates, shuffle
    # width = users, then a 3-row result. Epoch-us integer arithmetic
    # keeps it TZ-independent.
    ev = read_table(spark, sf, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("us")
    )
    signup = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("us").alias("signup_us")
    )
    click = (
        ev.filter(F.col("event_type") == "click")
        .join(signup, "user_id")
        .filter(F.col("us") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("click_us"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .filter(F.col("us") >= F.col("click_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    step = lambda n, name, df_: df_.agg(  # noqa: E731
        F.lit(n).alias("step"),
        F.lit(name).alias("step_name"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return (
        step(1, "signup", signup)
        .unionByName(step(2, "click_after_signup", click))
        .unionByName(step(3, "purchase_after_click", purchase))
    )


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    # Weekly cohort retention: users bucketed by first-activity week,
    # counted per week-offset they return. Weeks are integer
    # days-since-epoch // 7 — no calendar/TZ dependence. Two shuffles
    # (per-user first week, then cohort cell counts); cells are
    # cohorts x offsets regardless of event volume.
    # integer div, not / + cast: double division can round an exact-boundary
    # quotient up before truncation (engine invariant: never div epochs as double)
    ev = read_table(spark, sf, "events").select(
        "user_id", F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " div 86400000000"
        ).alias("day")
    )
    wk = ev.select("user_id", F.expr("day div 7").alias("week")).distinct()
    first = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    # Rolling-hash winnowing fingerprints (MOSS): any shared run of
    # w+k-1 = 8 words guarantees a shared fingerprint.
    from iowa_liquor_sales_spark.operators.text import winnow_fingerprints

    docs = read_table(spark, sf, "documents")
    return winnow_fingerprints(docs, "text", "doc_id", k=4, w=5)


def q_embed_centroid(spark: SparkSession, sf: str) -> DataFrame:
    # Per-label centroid accumulators on an exact integer grid (the IVF /
    # k-means reduce step). Output width = labels x dims, row-count free.
    from iowa_liquor_sales_spark.operators.similarity import label_centroids_e6

    emb = read_table(spark, sf, "embeddings")
    return label_centroids_e6(emb, "embedding", "label")


def q_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic content-keyed train/val/test split (operators/sampling):
    # md5-bucket carving, stable under repartition/rerun/cluster resize —
    # rand()-based splits are none of those. Narrow projection, no shuffle.
    from iowa_liquor_sales_spark.operators.sampling import hash_split

    docs = read_table(spark, sf, "documents").select("doc_id")
    return hash_split(docs, "doc_id").select("doc_id", "split")


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Exact n-per-stratum sampling ranked by content hash (total,
    # data-independent order) — reproducible across engines and layouts.
    from iowa_liquor_sales_spark.operators.sampling import stratified_sample

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    picked = stratified_sample(o, ["o_orderpriority"], "o_orderkey", n=10)
    return picked.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("sample_rank").cast("int").alias("sample_rank"),
    )


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic importance sampling (operators/sampling.weighted_sample):
    # keep each doc with probability n_chars/2000 (capped at 1) — the
    # "downweight short docs" curation move — decided by a content-keyed
    # hash coin, so the surviving set is identical on every run, any
    # partitioning, and nested across thresholds. Narrow filter, no shuffle.
    from iowa_liquor_sales_spark.operators.sampling import weighted_sample

    docs = read_table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    prob = F.least(F.lit(1.0), F.col("n_chars") / F.lit(2000.0))
    return weighted_sample(docs, "doc_id", prob)


def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # KMV bottom-k sketch (operators/sketches): approximate COUNT(DISTINCT)
    # with O(k) state per task and no shuffle of the key domain — yet
    # bit-identical to the oracle because the sketch hash is the portable
    # md5-based hash60. k=256 -> ~6% standard error (tested vs exact).
    from iowa_liquor_sales_spark.operators.sketches import kmv_distinct_estimate

    li = read_table(spark, sf, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return kmv_distinct_estimate(li, key, k=256)


def q_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    # Conservation checks as engine surface: one scan, all rules.
    from iowa_liquor_sales_spark.operators.quality import not_null, rule_counts

    li = read_table(spark, sf, "lineitem")
    return rule_counts(
        li,
        {
            "shipdate_notnull": not_null("l_shipdate"),
            "qty_positive": F.col("l_quantity") > 0,
            "price_nonneg": F.col("l_extendedprice") >= 0,
            "discount_range": F.col("l_discount").between(0.0, 0.5),
            "flag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


# ---- multimodal


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_table(spark, sf, "documents")
    return extract_features(attach_payload(docs))


def q_multimodal_ppm(spark: SparkSession, sf: str) -> DataFrame:
    # The REAL image-decode path (multimodal/binary_ops._decode_ppm):
    # each document is wrapped into a genuine binary PPM (P6) asset —
    # header with a comment line (exercising the netpbm comment parse)
    # plus an 8x4 RGB pixel buffer drawn from the text bytes — then
    # decoded inside Arrow-batched mapInPandas. Payload construction is
    # pure SQL (rpad truncates-or-pads to exactly 96 ASCII bytes), so the
    # whole decode pipeline gets a bit-exact oracle, unlike the
    # pytest-only PPM coverage it replaces.
    from iowa_liquor_sales_spark.multimodal.binary_ops import (
        decode_image,
        extract_features,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    assets = docs.select(
        "doc_id",
        F.concat(
            F.lit("P6\n# synthetic asset\n8 4\n255\n").cast("binary"),
            F.rpad(F.col("text"), 96, "x").cast("binary"),
        ).alias("payload"),
    )
    return extract_features(
        assets, decoder=lambda b: decode_image(b, codec="ppm")
    )


def q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    # Video-style 1->N frame fan-out inside mapInPandas (multimodal/
    # binary_ops.sample_frames): every 2nd fixed-64-byte "frame" of each
    # payload becomes its own row, fanned out batch-side with no explode
    # and no driver hop. The stub codec slices bytes; documents.text is
    # pure ASCII, so the byte windows are SQL-expressible and the whole
    # Arrow-batched pipeline gets a bit-exact oracle.
    from iowa_liquor_sales_spark.multimodal.binary_ops import sample_frames

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    framed = sample_frames(attach_payload(docs), every_n=2, frame_bytes=64)
    return framed.select(
        "doc_id",
        "frame_idx",
        F.col("frame").cast("string").alias("frame_txt"),
    )


def q_vector_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Array-function surface over array<float>: size / min / max /
    # element access / slicing — all exact (order-independent or
    # positional), so floats compare bit-for-bit cross-engine.
    emb = read_table(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.array_min("embedding").cast("double").alias("vmin"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.size(F.slice("embedding", 1, 8)).cast("int").alias("head_len"),
    )


def q_group_normalize(spark: SparkSession, sf: str) -> DataFrame:
    # Grouped-map Arrow UDF (applyInPandas): per-segment z-score; the
    # oracle is the JVM window-function twin.
    from iowa_liquor_sales_spark.multimodal.binary_ops import group_normalize

    return group_normalize(read_table(spark, sf, "customer"))


def q_ratio_to_report(spark: SparkSession, sf: str) -> DataFrame:
    # Ratio-to-report window: each positive-balance customer's share of
    # its market segment's balance, in exact integer ppm (cents * 1e6
    # div segment cents) so the division is bit-identical cross-engine
    # (restricted to positive cents: Spark `div` truncates toward zero
    # while DuckDB `//` floors, which disagree below zero). One shuffle
    # on the segment key; the window aggregate is a running-free SUM OVER
    # PARTITION — no sort, state O(1) per partition.
    c = read_table(spark, sf, "customer").filter(F.col("c_acctbal") > 0)
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    return (
        c.withColumn("cents", cents)
        .select(
            "c_custkey",
            "c_mktsegment",
            "cents",
            F.expr(
                "cents * 1000000 div sum(cents) over "
                "(partition by c_mktsegment)"
            ).alias("share_ppm"),
        )
    )


def q_yoy_growth(spark: SparkSession, sf: str) -> DataFrame:
    # Year-over-year growth: yearly revenue rollup (map-side combinable,
    # O(years) state), then lag over the tiny yearly frame — the window
    # runs on the aggregate, never the fact rows. Growth is an exact
    # integer cents delta; NULL for the first year (three-valued lag).
    o = read_table(spark, sf, "orders")
    from pyspark.sql.window import Window

    yearly = (
        o.groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("rev_cents")
        )
    )
    w = Window.orderBy("year")
    return yearly.select(
        "year",
        "rev_cents",
        (F.col("rev_cents") - F.lag("rev_cents").over(w)).alias(
            "yoy_delta_cents"
        ),
    )


def q_keyset_pagination(spark: SparkSession, sf: str) -> DataFrame:
    # Keyset (seek-method) pagination: the scalable replacement for
    # OFFSET (P3) — resume AFTER a known composite key instead of
    # skipping N rows, so the predicate pushes to the scan and page cost
    # stays O(page), not O(offset). Composite strict-after predicate on
    # the unique (l_orderkey, l_linenumber) order.
    li = read_table(spark, sf, "lineitem")
    after_key, after_line = 1000, 2
    page = (
        li.filter(
            (F.col("l_orderkey") > after_key)
            | (
                (F.col("l_orderkey") == after_key)
                & (F.col("l_linenumber") > after_line)
            )
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )
    return page


def q_rank_dense(spark: SparkSession, sf: str) -> DataFrame:
    # Tie-aware ranking semantics: rank() leaves gaps after ties,
    # dense_rank() doesn't. Ordering is by value only, so tied rows get
    # identical ranks and the output is deterministic without a unique
    # tiebreak — the one window family where ties are the point.
    from pyspark.sql.window import Window

    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.rank().over(w).alias("qty_rank"),
        F.dense_rank().over(w).alias("qty_dense_rank"),
    )


def q_cross_join(spark: SparkSession, sf: str) -> DataFrame:
    # Explicit CROSS JOIN (cartesian grid): every (region, nation) cell —
    # the dimension-grid shape behind coverage matrices and date spines.
    # Both sides are tiny dims, so the product is a broadcast
    # nested-loop, never a shuffled cartesian of fact-sized inputs.
    r = read_table(spark, sf, "region").select(
        F.col("r_regionkey").alias("grid_regionkey"),
        F.col("r_name").alias("region_name"),
    )
    n = read_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("grid_nationkey"),
        F.col("n_name").alias("nation_name"),
    )
    return r.crossJoin(n)


def q_minmax_by(spark: SparkSession, sf: str) -> DataFrame:
    # max_by/min_by (arg-max/arg-min) aggregates: the order that realized
    # the extreme total per priority. The ordering key is an exact integer
    # composite (cents * 1e7 + orderkey) so the winner is total-ordered —
    # raw max_by(x, double) has unspecified tie winners in both engines.
    # Single hash aggregate, map-side combinable, no window/shuffle-sort.
    o = read_table(spark, sf, "orders")
    score = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long") * F.lit(10_000_000) + F.col("o_orderkey")
    return (
        o.withColumn("score", score)
        .groupBy("o_orderpriority")
        .agg(
            F.expr("max_by(o_orderkey, score)").alias("max_orderkey"),
            F.expr("min_by(o_orderkey, score)").alias("min_orderkey"),
            F.max("o_totalprice").alias("max_total"),
            F.min("o_totalprice").alias("min_total"),
        )
    )


def q_window_firstlast(spark: SparkSession, sf: str) -> DataFrame:
    # first_value / last_value / nth_value over an explicit full-partition
    # frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING — the default
    # frame stops at CURRENT ROW, a classic cross-engine trap). Total
    # order inside each user via the unique (ts, event_id) pair.
    from pyspark.sql import Window

    ev = read_table(spark, sf, "events").select("user_id", "event_id", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(w).alias("last_event"),
        F.nth_value("event_id", 2).over(w).alias("second_event"),
    )


def q_mode(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic mode: the most frequent order priority per market
    # segment (count DESC, then priority ASC on ties). Two aggregates +
    # one 5x5-row window — the heavy shuffle is the first groupBy only.
    from pyspark.sql import Window

    o = read_table(spark, sf, "orders").select("o_custkey", "o_orderpriority")
    c = read_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            "n",
        )
    )


def q_returned_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q10 shape: top-20 customers by revenue lost to returned items.
    # 3-way fact⋈dim join (nation broadcast, customer/orders shuffle on
    # custkey after AQE), exact decimal revenue, total order via custkey
    # tiebreak. Exercises multi-join reordering + top-k in one plan.
    li = read_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf, "orders").filter(
        F.col("o_orderdate").cast("date").between("1995-01-01", "1995-12-31")
    )
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_time_weighted(spark: SparkSession, sf: str) -> DataFrame:
    # Hypertable-style time-weighted aggregate: each observation weighted
    # by its holding duration (LOCF integral, TimescaleDB time_weight).
    # Numerator is an exact decimal sum (value is 2-decimal by
    # construction), denominator an int64 sum — the closing double
    # division is the same IEEE op in both engines. Durations are whole
    # MILLIseconds (integer div, same both sides): cents x micros sums
    # pass 2^53 and the decimal->double cast then rounds differently
    # across engines; cents x millis stays exact in double at any SF.
    ev = read_table(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    gap = F.expr(
        "(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "lead(ts) over (partition by user_id order by ts, event_id)) - "
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)) "
        "div 1000"
    ).alias("gap_ms")
    segs = ev.select("user_id", "value", gap).filter(F.col("gap_ms").isNotNull())
    weighted = (
        F.col("value").cast("decimal(18,2)") * F.col("gap_ms").cast("decimal(18,0)")
    )
    return segs.groupBy("user_id").agg(
        F.sum(weighted).cast("double").alias("weighted_sum"),
        F.sum("gap_ms").alias("total_ms"),
        (
            F.sum(weighted).cast("double")
            / F.sum("gap_ms").cast("double")
        ).alias("twa_value"),
    ).filter(F.col("total_ms") > 0)


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    # CDC-style snapshot diff: per-order revenue as-of two watermarks,
    # full-outer-joined on the key and classified added / removed /
    # changed / unchanged. The join coalesces the USING key in both
    # engines; revenue equality is exact (decimal sums cast to double).
    # One wide join on the key — at 100 TB both sides shuffle on
    # l_orderkey and AQE coalesces the (usually tiny) diff output.
    li = read_table(spark, sf, "lineitem")
    rev = lambda cutoff: (  # noqa: E731
        li.filter(F.col("l_shipdate").cast("date") < F.lit(cutoff))
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "rev"))
    )
    a = rev("1997-01-01").withColumnRenamed("rev", "rev_old")
    b = rev("1998-01-01").withColumnRenamed("rev", "rev_new")
    return a.join(b, "l_orderkey", "full_outer").select(
        "l_orderkey",
        "rev_old",
        "rev_new",
        F.when(F.col("rev_old").isNull(), "added")
        .when(F.col("rev_new").isNull(), "removed")
        .when(F.col("rev_old") != F.col("rev_new"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def q_rolling_range(spark: SparkSession, sf: str) -> DataFrame:
    # 30-day trailing revenue per customer: a RANGE frame over integer
    # days-since-epoch (value-based, not row-based — same-day orders are
    # peers and always aggregate together, which ROWS frames get wrong).
    # One shuffle on custkey; the frame is evaluated in a single sorted
    # pass per partition.
    from pyspark.sql import Window

    o = read_table(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("day"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_30d"),
    )


def q_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q17 shape: revenue from below-one-fifth-of-average-quantity
    # lineitems. The correlated scalar subquery (per-part avg) is
    # expressed as its decorrelated form — a per-part aggregate joined
    # back to the fact (exactly what Catalyst rewrites the subquery to).
    # qty < 0.2*avg is evaluated as 100*qty*5*cnt < 100*sum: pure int64,
    # no division, so the boundary is exact in both engines.
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(F.col("p_brand").startswith("Brand#1"))
    agg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("sq_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(agg, li.l_partkey == agg.pk)
        .filter(
            F.col("l_quantity").cast("long") * 500 * F.col("cnt") < F.col("sq_c")
        )
        .agg(
            (dsum("l_extendedprice", 2) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_partition_prune(spark: SparkSession, sf: str) -> DataFrame:
    # Hive-style partitioned write + partition-pruned scan: orders land
    # as parquet partitioned by priority, and the filtered re-read must
    # touch one directory (PartitionFilters in the scan, verified in
    # tests/test_warehouse.py). The reference's date-window chunk dirs
    # map to exactly this layout at scale.
    o = read_table(spark, sf, "orders")
    path = tempfile.mkdtemp(prefix="iowa_part_prune_")
    (
        o.write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    back = read_parquet(spark, path, o.schema).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", 2, "sum_total"),
    )


def q_countmin(spark: SparkSession, sf: str) -> DataFrame:
    # Count-Min frequency sketch (operators/sketches.countmin_counters):
    # mergeable depth x width counter table over the portable md5 hash —
    # approximate operator, exact cross-engine gate. Shuffle is capped at
    # depth*width rows per task no matter the input size.
    from iowa_liquor_sales_spark.operators.sketches import countmin_counters

    li = read_table(spark, sf, "lineitem")
    return countmin_counters(li, "l_suppkey", depth=4, width=256)


def q_regional_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q5 shape: revenue by nation inside one region, with the
    # customer-and-supplier-same-nation co-location predicate. Six-table
    # join: region/nation broadcast, customer/orders/lineitem/supplier
    # shuffle on their keys; Catalyst orders the joins, AQE picks sizes.
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").filter(
        F.col("o_orderdate").cast("date").between("1996-01-01", "1996-12-31")
    )
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def q_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q7 shape: shipping volume between two nations by direction and
    # year. The disjunctive nation-pair predicate lands on a broadcast of
    # the two tiny nation dims; the fact side shuffles once per join key.
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1996-01-01", "1997-12-31")
    )
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    n1 = read_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cn_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_market_share(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold into
    # EUROPE, per order year. Share = exact-decimal national revenue over
    # exact-decimal total, divided once in double — deterministic on any
    # partitioning, same bits as the oracle.
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    n1 = read_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    r = read_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n2 = read_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    natl = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            dsum(natl, 4, "nation_volume"),
            dsum(vol, 4, "total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
        .orderBy("o_year")
    )


def q_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q9 shape: profit by supplier nation and year for LIKE-matched
    # parts. The testdata has no partsupp, so supply cost is modeled as
    # half the part's retail price (exact 3-decimal arithmetic). LIKE
    # '%widget%' is evaluated on the broadcast part dim before the join.
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(F.col("p_name").like("%widget%"))
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        F.col("p_retailprice") * F.lit(0.5) * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("l_shipdate"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(dsum(amount, 4, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_shipmode_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q12 shape: per line-status, how many lines belong to
    # high-priority vs low-priority orders within a ship-date year.
    # CASE-gated integer counts — exact in any engine.
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1997-01-01", "1997-12-31")
    )
    o = read_table(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    # global maximum. The aggregated view is tiny, so the max-revenue
    # scalar lands as a broadcast cross filter — no second fact scan.
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1996-01-01", "1996-03-31")
    )
    s = read_table(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top.max_revenue)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    # joined back to customer detail. The HAVING pre-aggregate runs on the
    # fact alone (partial map-side sums), then semi-joins the wide rows.
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q_disjunctive_pred(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q19 shape: OR of three conjunctive brand/size/quantity groups.
    # Catalyst extracts the common l_partkey join and pushes the p_* legs
    # into the broadcast build side; the residual disjunction evaluates in
    # whole-stage codegen. Single-row exact-decimal answer.
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part")
    g1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    g2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    g3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(g1 | g2 | g3)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q21 shape: in finished multi-supplier orders, the supplier who
    # shipped strictly last (EXISTS another supplier on the order; NOT
    # EXISTS one shipping later). Both correlated subqueries become one
    # semi- and one anti-join on l_orderkey — two shuffles, no fact re-agg.
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = read_table(spark, sf, "supplier")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waiting = (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & (F.col("d3") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(s, waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def q_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q22 shape: customers with above-average positive balance and
    # no recent orders, rolled up by market segment. The average-balance
    # comparison runs in exact integer cents (bal_cents * N > total_cents)
    # so the boundary never depends on FP rounding; the "no orders" leg is
    # a left anti-join against the date-filtered fact.
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("2000-01-01").cast("date")
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("tot_cents"), F.count(F.lit(1)).alias("n_pos")
    )
    return (
        c.withColumn("bal_cents", cents)
        .join(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("tot_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", 2, "totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def q_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q2 shape: per nation, the supplier(s) holding the minimum
    # account balance — the classic correlated-min decorrelated into a
    # groupwise-min self-join. Comparison is on stored values (no
    # arithmetic), so double equality is exact cross-engine.
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    mins = s.groupBy(F.col("s_nationkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        s.join(
            F.broadcast(mins),
            (s.s_nationkey == F.col("mk")) & (s.s_acctbal == F.col("min_bal")),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "s_name", "s_acctbal")
        .orderBy("n_name", "s_name")
    )


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Test-set decontamination (curation.decontaminate): drop training
    # docs sharing any 5-word shingle with the eval sources. Eval shingle
    # set and contaminated-id set both broadcast; the train-side shingle
    # explode is the only heavy stage and stays partition-parallel.
    from iowa_liquor_sales_spark.operators.curation import decontaminate

    docs = read_table(spark, sf, "documents")
    ev = docs.filter(F.col("source").isin("src0", "src1"))
    tr = docs.filter(~F.col("source").isin("src0", "src1"))
    return decontaminate(tr, ev, n=5).select("doc_id").orderBy("doc_id")


def q_quantile_filter(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language top-half length filter (curation.quantile_filter):
    # integer rank arithmetic rn*2 <= cnt, deterministic doc_id tiebreak —
    # the corpus quality-gate shape with no FP quantile boundary.
    from iowa_liquor_sales_spark.operators.curation import quantile_filter

    docs = read_table(spark, sf, "documents")
    return quantile_filter(docs, "n_chars", "lang").select(
        "doc_id", "lang", "n_chars"
    )


def q_repetition_ratio(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher-style duplicate-bigram share per doc in exact ppm
    # (curation.repetition_ratio): pure JVM array expressions, zero
    # shuffle — the whole corpus pass is one codegen stage.
    from iowa_liquor_sales_spark.operators.curation import repetition_ratio

    docs = read_table(spark, sf, "documents")
    return repetition_ratio(docs, n=2)


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    # Regex masking pass (curation.scrub_patterns) over the events JSON
    # props: digit runs -> <NUM>. RE2-safe pattern, global replace in
    # both engines.
    from iowa_liquor_sales_spark.operators.curation import scrub_patterns

    ev = read_table(spark, sf, "events")
    return scrub_patterns(ev, "props", [("[0-9]+", "<NUM>")]).select(
        "event_id", "scrubbed"
    )


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    # Misra-Gries heavy-hitter summary (sketches.misra_gries) over the
    # corpus token stream: O(k) state per task, <= k rows per partition
    # shuffled. k=64 exceeds the synthetic vocabulary, so no decrement
    # fires and the summary is exactly the frequency table — approximate
    # operator, exact oracle gate (same contract as KMV/Count-Min).
    from iowa_liquor_sales_spark.operators.sketches import misra_gries

    docs = read_table(spark, sf, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("token"))
    return misra_gries(words, "token", k=64).select(
        F.col("k").alias("token"), F.col("w").alias("weight")
    )


def q_mix_epochs(spark: SparkSession, sf: str) -> DataFrame:
    # Domain-mixture replication (curation.mix_epochs): per-language
    # epoch weights (en x2, zh dropped, others x1) materialized as an
    # explicit epoch index via per-row sequence explode — deterministic
    # up/down-sampling for training-data mixing.
    from iowa_liquor_sales_spark.operators.curation import mix_epochs

    docs = read_table(spark, sf, "documents")
    w = (
        F.when(F.col("lang") == "en", F.lit(2))
        .when(F.col("lang") == "zh", F.lit(0))
        .otherwise(F.lit(1))
    )
    return mix_epochs(docs, w).select("doc_id", "lang", "epoch")


def q_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # JSON-lines sink + typed scan (S2/S7 family, JSON flavor): write a
    # projection as newline-delimited JSON, read it back with an explicit
    # schema (no inference in production paths), aggregate. Dates travel
    # as ISO strings — the JSON wire convention.
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )
    path = tempfile.mkdtemp(prefix="iowa_json_rt_") + "/orders"
    o.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("order_date", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", 2, "sum_total"),
        F.min("order_date").alias("first_date"),
    )


def q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # ORC sink + scan: the second columnar format the engine speaks
    # (vectorized reader, predicate pushdown — same contract as parquet).
    # The post-read filter must reach the ORC reader as a pushed filter.
    c = read_table(spark, sf, "customer")
    path = tempfile.mkdtemp(prefix="iowa_orc_rt_") + "/customer"
    c.write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("c_acctbal") > 0)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal", 2, "sum_bal"),
    )


def q_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    # percent_rank / cume_dist over a unique total order per segment:
    # (rn-1)/(n-1) and rn/n on a tie-free ordering are single IEEE
    # divisions of exact ints — deterministic bits in both engines.
    from pyspark.sql.window import Window

    c = read_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def q_grid_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    # Mergeable integer-grid quantile sketch (sketches.grid_quantiles):
    # per-bucket counts as the O(buckets) mergeable state, exact at grid
    # resolution, bit-identical oracle — the approx-percentile answer
    # with a checkable contract.
    from iowa_liquor_sales_spark.operators.sketches import grid_quantiles

    o = read_table(spark, sf, "orders")
    return grid_quantiles(o, "o_totalprice", percentiles=(50, 90, 99))


def q_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    # Runtime-filter join (joins.bloom_build/bloom_prefilter): a Bloom
    # bitmap over the filtered dim's keys probes the fact BEFORE the
    # shuffle join — the semi-join-reduction pattern that keeps 100 TB
    # exchanges carrying only plausible matches. No false negatives, so
    # the post-join result is exactly the plain join (the oracle).
    from iowa_liquor_sales_spark.operators.joins import (
        bloom_build,
        bloom_prefilter,
    )

    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    words = bloom_build(o, "o_orderkey")
    pre = bloom_prefilter(li, "l_orderkey", words)
    return (
        pre.join(o, pre.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"),
        )
        .orderBy("l_linestatus")
    )


def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic integer-grid PageRank (graph.pagerank_e12) on the
    # customer<->supplier purchase graph, 2 unrolled iterations, floor-div
    # damping — iterative graph analytics with an exact chained-CTE
    # oracle (same convention as k-means; the oracle is iteration-count
    # parameterized, 2 here keeps the per-round join+agg+checkpoint cost
    # out of the bench tail while exercising the identical plan shape).
    # Top-20 hubs by rank.
    from iowa_liquor_sales_spark.operators.graph import pagerank_e12

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    # Broadcast the 2-column orders side: the fact (lineitem) never
    # shuffles for the edge build, only for the distinct.
    e = (
        li.join(F.broadcast(o), o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        pagerank_e12(sym, iters=2)
        .orderBy(F.col("rank_e12").desc(), F.col("node"))
        .limit(20)
    )


def q_personalized_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    # Personalized weighted PageRank (graph.pagerank_personalized_e12):
    # teleport restricted to three seed customers, edge mass split by
    # line-count weights — "which suppliers are closest to THIS customer
    # cohort's purchase walk". Same unrolled-iteration / exact-grid /
    # chained-CTE-oracle conventions as q_pagerank; 2 iterations, top-20.
    from iowa_liquor_sales_spark.operators.graph import (
        pagerank_personalized_e12,
    )

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        li.join(F.broadcast(o), o.o_orderkey == li.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    pr = pagerank_personalized_e12(sym, sources=[2, 4, 6], iters=2)
    return pr.orderBy(F.col("rank_e12").desc(), F.col("node")).limit(20)


def q_date_arith(spark: SparkSession, sf: str) -> DataFrame:
    # Date/interval arithmetic family: datediff, date_add, add_months,
    # months_between, last_day, trunc — the scalar layer beyond the
    # reference's extract()/trunc() (SURVEY §2.4).
    o = read_table(spark, sf, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("age_days"),
        F.date_add(d, 30).alias("due_date"),
        F.add_months(d, 3).alias("plus_quarter"),
        ((F.lit(2002) - F.year(d)) * 12 + (F.lit(1) - F.month(d)))
        .cast("int")
        .alias("age_months"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "quarter").alias("quarter_start"),
    )


def q_string_agg(spark: SparkSession, sf: str) -> DataFrame:
    # Ordered string aggregation (listagg): statuses per priority as a
    # deterministic comma list — collect_set -> array_sort -> concat_ws
    # keeps the result partition-order independent.
    o = read_table(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderstatus"))
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    # UNPIVOT / melt: the wide per-part measure columns become (measure,
    # value) rows — the inverse of q_pivot, Spark ids/values unpivot vs
    # DuckDB UNPIVOT.
    p = read_table(spark, sf, "part")
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="value",
    ).withColumn("value", F.col("value").cast("double"))


def q_map_funcs(spark: SparkSession, sf: str) -> DataFrame:
    # Map construction + access: per-priority map of status -> count via
    # map_from_entries over a sorted entry array, then keys/values
    # projected back out. The key/value arrays are serialized to CSV
    # strings (array_join) so the driver's pandas canonicalizer — which
    # sorts and hashes cells — sees scalar columns; the map surface
    # (map_from_entries / map_keys / map_values / element_at) stays
    # fully exercised upstream of the serialization.
    o = read_table(spark, sf, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("status_counts")
    )
    return m.select(
        "o_orderpriority",
        F.array_join(F.map_keys("status_counts"), ",").alias("statuses"),
        F.array_join(
            F.transform(
                F.map_values("status_counts"),
                lambda v: v.cast("string"),
            ),
            ",",
        ).alias("counts"),
        F.element_at("status_counts", "O").alias("open_count"),
    )


def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    # ROLLUP hierarchy (flag -> flag,status -> grand total) — completes
    # the CUBE / GROUPING SETS family: one Expand + one hash aggregate,
    # single shuffle for all three grains.
    li = read_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 2, "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


def q_higher_order(spark: SparkSession, sf: str) -> DataFrame:
    # Array higher-order functions (transform/filter/aggregate/exists/
    # forall) — all JVM lambda codegen, zero shuffle. Split materialized
    # once per row (Catalyst does not CSE inside HOF lambdas).
    d = read_table(spark, sf, "documents")
    ws = F.col("ws_")
    return d.withColumn("ws_", F.split(F.col("text"), " ")).select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.size(F.filter(ws, lambda w: F.length(w) > 4)).alias("long_words"),
        F.aggregate(
            ws, F.lit(0), lambda acc, w: acc + F.length(w)
        ).alias("total_len"),
        F.exists(ws, lambda w: w.rlike("[0-9]")).alias("has_digit"),
        F.forall(ws, lambda w: F.length(w) <= 12).alias("all_short"),
    )


def q_array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    # Array function surface: construct/distinct/sort/slice/contains/
    # position/max/min/flatten — per-row JVM expressions, no shuffle.
    # Every array-typed output is serialized to a CSV string via
    # array_join(transform(.., cast string)) so the driver's pandas
    # canonicalizer (sort_values + hash, which cannot hash list cells)
    # sees scalars; the array ops themselves run upstream unchanged.
    p = read_table(spark, sf, "part")
    arr = F.array(
        F.col("p_size"),
        F.col("p_size") + 1,
        F.col("p_size") % 3,
        F.col("p_size"),
    )

    def _csv(a):
        return F.array_join(F.transform(a, lambda v: v.cast("string")), ",")

    return p.select(
        "p_partkey",
        _csv(F.array_sort(F.array_distinct(arr))).alias("sizes_sorted"),
        _csv(F.slice(arr, 2, 2)).alias("mid_two"),
        F.array_contains(arr, 7).alias("has_seven"),
        F.array_position(arr, F.col("p_size") + 1).alias("succ_pos"),
        F.array_max(arr).alias("size_max"),
        F.array_min(arr).alias("size_min"),
        _csv(
            F.flatten(
                F.array(F.array(F.col("p_size")), F.array(F.lit(0)))
            )
        ).alias("flat"),
    )


def q_window_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # Distinct users over a trailing 7-day RANGE window (active-user
    # curve). Spark has no COUNT(DISTINCT) over windows; the engine
    # rewrite is: dedup to (day, user) pairs first (the big shuffle,
    # map-side combinable), then size(collect_set) over a RANGE frame on
    # the *deduped* rows — the frame holds at most days*users entries,
    # not raw events, so state stays bounded at 100 TB event volume.
    ev = read_table(spark, sf, "events")
    from pyspark.sql import Window

    day = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).alias("epoch_day")
    pairs = ev.select(day, "user_id").distinct()
    w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
    return (
        pairs.withColumn("u7", F.size(F.collect_set("user_id").over(w)))
        .groupBy("epoch_day")
        .agg(F.max("u7").alias("users_7d"))
    )


def q_date_spine(spark: SparkSession, sf: str) -> DataFrame:
    # Gap-free date spine via sequence()+explode, left join daily counts,
    # zero-fill — the hypertable/gap-fill companion to q_resample_ffill.
    # The spine is one exploded row per day off a 1-row min/max aggregate
    # (broadcast side); the daily rollup is the only real shuffle.
    o = read_table(spark, sf, "orders")
    d = F.to_date("o_orderdate")
    bounds = o.agg(F.min(d).alias("lo"), F.max(d).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    daily = o.groupBy(d.alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return F.broadcast(spine).join(daily, "day", "left").select(
        "day", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


def q_bitwise_agg(spark: SparkSession, sf: str) -> DataFrame:
    # Bitwise aggregate family (bit_and/bit_or/bit_xor) — map-side
    # combinable, O(1) state per group; bit_xor is the same primitive as
    # the engine's order-independent table checksum.
    o = read_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


def q_dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    # Curation analytics: exact-duplicate rate per source in ppm.
    # Spark groups by md5(text) so the exchanges carry 32-byte keys, not
    # documents (the oracle groups by text itself — identical up to md5
    # collisions); keeper = min doc_id, duplicates = everyone else.
    d = read_table(spark, sf, "documents").select(
        "doc_id", "source", md5_hex("text").alias("h")
    )
    g = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    per = d.join(g, "h").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
        ).alias("n_dups"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_dups",
        F.expr("n_dups * 1000000 div n_docs").alias("dup_ppm"),
    )


def q_corpus_yield(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus yield report: per language, docs and whitespace tokens
    # before/after exact dedup — the summary a curation pipeline emits
    # after a dedup pass. One window over the content hash (shuffle on
    # md5, 32-byte keys) + one aggregate on lang.
    from pyspark.sql import Window

    d = (
        read_table(spark, sf, "documents")
        .withColumn("h", md5_hex("text"))
        .withColumn(
            "toks", F.size(F.split(F.col("text"), " ")).cast("long")
        )
    )
    keeper = (
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("h"))
    )
    return (
        d.withColumn("keeper", keeper)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.sum(F.when(F.col("keeper"), 1).otherwise(0)).alias(
                "kept_docs"
            ),
            F.sum(F.when(F.col("keeper"), F.col("toks")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
    )


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    # Sliding-window chunking (curation.chunk_documents): docs become
    # overlapping max-32-word windows with stride 24 — the pretraining
    # context-layout stage upstream of q_pack_sequences. Zero shuffle.
    from iowa_liquor_sales_spark.operators.curation import chunk_documents

    d = read_table(spark, sf, "documents")
    return chunk_documents(d, "text", "doc_id", max_words=32, overlap=8)


def q_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q6 shape: forecast-revenue-change — a single-table scan with
    # three range predicates and one exact-decimal aggregate. The whole
    # query is one codegen stage; all three filters reach the parquet
    # row-group stats (PushedFilters on l_shipdate/l_discount/l_quantity).
    li = read_table(spark, sf, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").cast("date").between("1996-01-01", "1996-12-31")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 4, "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q11 shape (no partsupp in testdata): per-part shipped value
    # from one nation's suppliers, kept only if above a fixed fraction of
    # the total. Both the per-part values and the global threshold come
    # from the SAME exact-decimal sum over the base rows (never re-summing
    # doubles), so the comparison is bit-identical on any partitioning.
    # One shuffle for the groupBy; the scalar total is broadcast.
    li = read_table(spark, sf, "lineitem")
    s = read_table(spark, sf, "supplier").filter(
        F.col("s_nationkey") == 3
    )
    vol = F.col("l_extendedprice") * F.col("l_quantity")
    base = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    per_part = base.groupBy("l_partkey").agg(dsum(vol, 2, "stock_value"))
    total = base.agg(dsum(vol, 2, "total_value"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("stock_value") > F.col("total_value") * 0.0005)
        .select("l_partkey", "stock_value")
        .orderBy(F.col("stock_value").desc(), "l_partkey")
    )


def q_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q14 shape: promo share of one ship-month's revenue. Part dim
    # broadcasts; the CASE-gated and total sums are exact decimals,
    # divided once in double — same bits as the single-threaded oracle.
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1996-09-01", "1996-09-30")
    )
    p = read_table(spark, sf, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            dsum(promo, 4, "promo_revenue"),
            dsum(vol, 4, "total_revenue"),
        )
        .withColumn(
            "promo_share",
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
        )
    )


def q_parts_supplier(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    # for a size in-list, excluding one brand, the PROMO type, and a
    # NOT-IN supplier set (names ending in '7') — the NOT IN becomes a
    # broadcast left_anti before the groupBy, so the distinct-count
    # shuffle only carries surviving rows.
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
    )
    bad = read_table(spark, sf, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def q_potential_promotion(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q20 shape: suppliers in one nation who shipped a large volume
    # of 'red%' parts — the nested (partkey, suppkey) shipped-quantity
    # aggregate qualifies pairs, then a semi join keeps suppliers. The
    # quantity threshold is on an integer-valued sum (l_quantity is whole
    # bottles), so the boundary is exact in both engines.
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(F.col("p_name").like("red%"))
    s = read_table(spark, sf, "supplier").filter(F.col("s_nationkey") == 2)
    pairs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("shipped_qty"))
        .filter(F.col("shipped_qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(pairs, s.s_suppkey == pairs.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_geo_point_parse(spark: SparkSession, sf: str) -> DataFrame:
    # The reference keeps `store_location` as opaque `POINT (lon lat)`
    # text (create_table.sql:9); this query exercises the parse path it
    # implies: build the POINT string from integer grid coords, parse it
    # back with one regexp_extract per axis, and reduce to a per-segment
    # bounding box. Integer-valued doubles end-to-end — no float-format
    # drift between engines. Zero joins, one groupBy shuffle.
    c = read_table(spark, sf, "customer")
    lon = (F.col("c_custkey") % 360 - 180).cast("int")
    lat = (F.col("c_nationkey") * 3 - 30).cast("int")
    pts = c.select(
        "c_mktsegment",
        F.concat(
            F.lit("POINT ("), lon.cast("string"), F.lit(" "),
            lat.cast("string"), F.lit(")"),
        ).alias("store_location"),
    )
    px = F.regexp_extract("store_location", r"POINT \((-?\d+) (-?\d+)\)", 1)
    py = F.regexp_extract("store_location", r"POINT \((-?\d+) (-?\d+)\)", 2)
    return (
        pts.select(
            "c_mktsegment",
            px.cast("double").alias("lon"),
            py.cast("double").alias("lat"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.min("lon").alias("min_lon"),
            F.max("lon").alias("max_lon"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .orderBy("c_mktsegment")
    )


def q_hll(spark: SparkSession, sf: str) -> DataFrame:
    # Portable HyperLogLog (sketches.hll_registers/hll_estimate): md5-
    # derived registers, exact-int64 harmonic sum — an approximate
    # distinct count with a bit-exact oracle. O(2^p) state per task,
    # one 256-row shuffle; the register table itself is mergeable.
    from iowa_liquor_sales_spark.operators.sketches import hll_estimate

    li = read_table(spark, sf, "lineitem")
    return hll_estimate(li, "l_orderkey", p=8)


def q_csv_malformed(spark: SparkSession, sf: str) -> DataFrame:
    # S2/C2 at the scan: PERMISSIVE CSV parse turns unparseable numeric
    # cells into NULLs (the reference's pd.to_numeric(errors="coerce"),
    # src/transform.py:15-21, pushed into the source). Rows whose
    # orderkey is divisible by 97 get a corrupted quantity cell on
    # write; the re-read must preserve the row and null just the cell.
    li = read_table(spark, sf, "lineitem")
    corrupted = li.select(
        F.col("l_orderkey").cast("string").alias("l_orderkey"),
        F.when(F.col("l_orderkey") % 97 == 0, F.lit("xx"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("l_quantity"),
    )
    path = tempfile.mkdtemp(prefix="iowa_csv_bad_")
    corrupted.write.mode("overwrite").csv(path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    back = spark.read.csv(path, schema=schema, mode="PERMISSIVE")
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_parsed"),
        dsum("l_quantity", 2, "sum_parsed"),
    )


def q_fuzzy_match(spark: SparkSession, sf: str) -> DataFrame:
    # Entity-resolution primitive: near-matching part names via
    # levenshtein <= 3, blocked on the last name token so the self-join
    # is per-block instead of all-pairs (at corpus scale the dictionary
    # of distinct names is what gets joined, never the fact rows).
    p = read_table(spark, sf, "part")
    names = (
        p.select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("block", F.element_at(F.split("name", " "), -1))
    )
    a = names.select(F.col("name").alias("name_a"), "block")
    b = names.select(F.col("name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


def q_bool_agg(spark: SparkSession, sf: str) -> DataFrame:
    # Boolean aggregate family (every/bool_or/count_if) — the SQL
    # bool_and/bool_or surface over per-priority order groups.
    o = read_table(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.every(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        )
        .orderBy("o_orderpriority")
    )


def q_posexplode(spark: SparkSession, sf: str) -> DataFrame:
    # Ordinal explode (posexplode = UNNEST WITH ORDINALITY): first five
    # whitespace tokens of every document with their 0-based position.
    # Zero shuffle; the generator runs inside the scan stage.
    d = read_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, 5)).alias("pos", "word"),
    )


def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    # Skew-busting salted join (joins.salted_join): hot keys fan across 8
    # salts, the dim side replicates to all salts — same result set as
    # the plain join (the oracle IS the plain join), different shuffle
    # shape. The explicit fallback for when AQE skew-split can't help.
    from iowa_liquor_sales_spark.operators.joins import salted_join

    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", 2, "sum_price"),
        )
        .orderBy("o_orderpriority")
    )


def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    # ON CONFLICT DO UPDATE (operators/upsert.merge_upsert): incoming
    # rows win. The delta updates every 10th order's total and inserts
    # shifted-key copies of every 17th — one anti-join + union, then a
    # per-status rollup so the compared output is compact and exact.
    o = read_table(spark, sf, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = o.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    merged = merge_upsert(
        o, updates.unionByName(inserts), ["o_orderkey"]
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2, "sum_total"),
        )
        .orderBy("o_orderstatus")
    )


def q_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    # SCD2 lifecycle (operators/scd): init from snapshot 1, apply
    # snapshot 2 where every 7th customer changes segment, every 13th is
    # deleted, and every 11th reappears under a new key. The history
    # carries (valid_from, valid_to, is_current) — closed + opened +
    # unchanged versions, all derived from one full-outer join.
    from iowa_liquor_sales_spark.operators.scd import scd2_apply, scd2_init

    c = read_table(spark, sf, "customer")
    snap1 = c.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    snap2 = (
        snap1.filter(F.col("c_custkey") % 13 != 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .unionByName(
            snap1.filter(F.col("c_custkey") % 11 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 1_000_000
            )
        )
    )
    history = scd2_apply(
        scd2_init(snap1, "2025-01-01"), snap2, "c_custkey", "2025-02-01"
    )
    return history


def q_profile_table(spark: SparkSession, sf: str) -> DataFrame:
    # One-pass data-profiling aggregate (the pipeline pre-flight check):
    # row/distinct/null counts, numeric min/max/exact-sum, date span, max
    # string length — a single wide agg so the table is scanned once
    # (Catalyst expands the distinct into a two-level aggregate).
    li = read_table(spark, sf, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dsum("l_quantity", 2, "sum_qty"),
        F.min(F.to_date("l_shipdate")).alias("first_ship"),
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
        F.max(F.length("l_returnflag")).alias("max_flag_len"),
    )


def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    # 7-row trailing moving average of daily revenue. Daily revenue is an
    # exact-decimal sum converted to integer cents, so the window frame
    # sums int64 (associative — safe under Spark's running accumulation
    # AND DuckDB's segment-tree combine); one double division at the end.
    from pyspark.sql import Window

    li = read_table(spark, sf, "lineitem")
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = Window.orderBy("ship_date").rowsBetween(-6, 0)
    return daily.select(
        "ship_date",
        (F.col("rev_cents") / 100.0).alias("day_revenue"),
        (
            F.sum("rev_cents").over(w)
            / (F.lit(100.0) * F.count(F.lit(1)).over(w))
        ).alias("ma7_revenue"),
    ).orderBy("ship_date")


def q_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    # Bigram frequency (n-gram LM surface): adjacent word pairs built
    # array-side with an indexed transform (no self-join, no shuffle
    # before the count), top-20 under a total order.
    d = read_table(spark, sf, "documents")
    ws = F.split("text", " ")
    bigrams = F.transform(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(ws, i + 2)),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


def q_zorder(spark: SparkSession, sf: str) -> DataFrame:
    # Z-order layout value (operators/layout.zorder_value): Morton-
    # interleave (l_partkey, l_suppkey) and summarize per curve bucket —
    # the min/max spans shrinking in BOTH dimensions is exactly what
    # makes parquet row-group skipping work on either column after a
    # zorder-clustered write. Pure bit arithmetic, bit-exact oracle.
    from iowa_liquor_sales_spark.operators.layout import zorder_value

    li = read_table(spark, sf, "lineitem")
    z = zorder_value("l_partkey", "l_suppkey", bits=16)
    return (
        li.select(z.alias("zv"), "l_partkey", "l_suppkey")
        .groupBy(F.shiftright(F.col("zv"), 22).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("z_bucket")
    )


def q_try_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    # try_* arithmetic (the ANSI-safe face of the reference's
    # errors→NULL coercions): division by a structurally-zero count
    # yields NULL, never an error — identical on ANSI and non-ANSI
    # sessions.
    o = read_table(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            dsum("o_totalprice", 2, "sum_total"),
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("o_totalprice") < 0).alias("n_negative"),
        )
        .select(
            "o_orderpriority",
            F.try_divide(F.col("sum_total"), F.col("n_orders")).alias(
                "avg_total"
            ),
            F.try_divide(F.col("sum_total"), F.col("n_negative")).alias(
                "div_by_zero"
            ),
        )
        .orderBy("o_orderpriority")
    )


def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-wide line dedup (curation.dedup_lines, the CCNet/Dolma
    # boilerplate pass): units occurring in more than 500 copies across
    # the corpus are dropped from every document, survivors reassemble
    # in original order (sort_array on (pos, line) structs — no window).
    # The synthetic docs are single-line, so the unit here is the word.
    from iowa_liquor_sales_spark.operators.curation import dedup_lines

    d = read_table(spark, sf, "documents")
    return dedup_lines(d, "text", "doc_id", sep=" ", max_copies=500)


def q_set_ops_all(spark: SparkSession, sf: str) -> DataFrame:
    # Bag-semantics set operations (UNION ALL / INTERSECT ALL /
    # EXCEPT ALL — multiplicity-preserving, Spark's unionAll/
    # intersectAll/exceptAll) summarized per op so the multiplicities
    # themselves are what's compared. Inputs keep duplicates (one row
    # per order), so ALL-semantics differ from the DISTINCT set ops.
    o = read_table(spark, sf, "orders")
    a = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    out = []
    for tag, df in (
        ("union_all", a.unionAll(b)),
        ("intersect_all", a.intersectAll(b)),
        ("except_all", a.exceptAll(b)),
    ):
        out.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_custkey").alias("n_keys"),
            ).select(F.lit(tag).alias("op"), "n_rows", "n_keys")
        )
    return out[0].unionByName(out[1]).unionByName(out[2])


def q_gaps_islands(spark: SparkSession, sf: str) -> DataFrame:
    # Gaps-and-islands: consecutive-order-day streaks per customer via
    # the date-minus-row_number trick (one window, one groupBy — no
    # self-join). Distinct days first so ties don't split islands.
    from pyspark.sql import Window

    o = read_table(spark, sf, "orders")
    days = o.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    islands = days.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    per_island = islands.groupBy("o_custkey", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        per_island.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("max_streak"),
        )
        .orderBy("o_custkey")
    )


def _grid_quantiles_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import grid_quantiles_sql

    return grid_quantiles_sql("o_totalprice", "orders", (50, 90, 99))


def _hll_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import hll_sql

    return hll_sql("l_orderkey", "lineitem", p=8)


def _join_cardinality_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import (
        countmin_join_size_sql,
    )

    return countmin_join_size_sql(
        "o_orderkey", "orders", "l_orderkey", "lineitem", depth=4, width=65536
    )


def _acf_oracle(lags: tuple[int, ...] = (1, 2, 3)) -> str:
    """Replay of operators/temporal.autocorrelation: exact integer-cent
    moments per lag, deterministic +-*/sqrt corr finish, floor-ppb
    outputs (generated per lag so the two engines cannot drift)."""
    lag_cols = ",\n                     ".join(
        f"lag(CAST(round(value * 100) AS BIGINT), {g}) OVER w AS l{g}"
        for g in lags
    )
    # Moments stay raw HUGEINT sums, converted with det_double_sql — the
    # Spark twin sums in DECIMAL(38,0) (xsum) and converts with the
    # identical hi/lo split, so the engines share bits even once
    # squared-cents sums pass 2^53 (a direct hugeint/decimal -> double
    # cast is only correctly rounded per engine implementation).
    mom = []
    conv = []
    for g in lags:
        mom.append(
            f"CAST(SUM(CASE WHEN l{g} IS NOT NULL THEN 1 ELSE 0 END)"
            f" AS DOUBLE) AS n{g},\n"
            f"  SUM(CASE WHEN l{g} IS NOT NULL THEN v END) AS sx{g}_,\n"
            f"  SUM(CASE WHEN l{g} IS NOT NULL THEN v * v END) AS sxx{g}_,\n"
            f"  SUM(CASE WHEN l{g} IS NOT NULL THEN l{g} END) AS sy{g}_,\n"
            f"  SUM(CASE WHEN l{g} IS NOT NULL THEN l{g} * l{g} END)"
            f" AS syy{g}_,\n"
            f"  SUM(CASE WHEN l{g} IS NOT NULL THEN v * l{g} END) AS sxy{g}_"
        )
        conv.append(
            f"n{g},\n"
            f"  {det_double_sql(f'sx{g}_')} AS sx{g},\n"
            f"  {det_double_sql(f'sxx{g}_')} AS sxx{g},\n"
            f"  {det_double_sql(f'sy{g}_')} AS sy{g},\n"
            f"  {det_double_sql(f'syy{g}_')} AS syy{g},\n"
            f"  {det_double_sql(f'sxy{g}_')} AS sxy{g}"
        )
    outs = ",\n  ".join(
        f"CAST(floor((n{g} * sxy{g} - sx{g} * sy{g})"
        f" / (sqrt(n{g} * sxx{g} - sx{g} * sx{g})"
        f" * sqrt(n{g} * syy{g} - sy{g} * sy{g}))"
        f" * 1000000000.0) AS BIGINT) AS acf_{g}_ppb"
        for g in lags
    )
    return f"""
        WITH l AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     {lag_cols}
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY event_id)),
        g AS (SELECT event_type, CAST(COUNT(v) AS BIGINT) AS n_obs,
  {",  ".join(mom)}
              FROM l GROUP BY event_type),
        m AS (SELECT event_type, n_obs,
  {",  ".join(conv)}
              FROM g)
        SELECT event_type, n_obs,
  {outs}
        FROM m"""


def _linkage_oracle() -> str:
    # The log(m/u) weights are computed ONCE in Python and injected into
    # both engines as double literals — ln() itself can differ by 1 ulp
    # between libm implementations.
    import math

    def w(m, u):
        return math.log(m / u), math.log((1 - m) / (1 - u))

    w_lang, w_lang_d = w(0.95, 0.30)
    w_src, w_src_d = w(0.80, 0.25)
    w_len, w_len_d = w(0.90, 0.20)
    w_key, w_key_d = w(0.85, 0.10)
    return f"""
        WITH keyed AS (
          SELECT doc_id,
                 substr(COALESCE(trim(regexp_replace(regexp_replace(
                   lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ''),
                   1, 24) AS skey
          FROM documents
        ),
        ranked AS (
          SELECT doc_id, skey,
                 row_number() OVER (ORDER BY skey, doc_id) AS rn
          FROM keyed
        ),
        cand AS (
          SELECT least(a.doc_id, b.doc_id) AS id_a,
                 greatest(a.doc_id, b.doc_id) AS id_b,
                 levenshtein(a.skey, b.skey) AS edit_distance
          FROM ranked a JOIN ranked b
            ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
          WHERE levenshtein(a.skey, b.skey) <= 24
        ),
        j AS (
          SELECT c.id_a, c.id_b, c.edit_distance,
                 da.lang AS lang_a, db.lang AS lang_b,
                 da.source AS src_a, db.source AS src_b,
                 da.n_chars AS len_a, db.n_chars AS len_b
          FROM cand c
          JOIN documents da ON c.id_a = da.doc_id
          JOIN documents db ON c.id_b = db.doc_id
        ),
        scored AS (
          SELECT id_a, id_b,
                 CAST(lang_a = lang_b AS INT) AS m_lang,
                 CAST(src_a = src_b AS INT) AS m_src,
                 CAST(abs(len_a - len_b) * 10 <= least(len_a, len_b) AS INT)
                   AS m_len,
                 CAST(edit_distance <= 4 AS INT) AS m_key,
                 CAST(floor((
                   CASE WHEN lang_a = lang_b
                        THEN CAST({w_lang!r} AS DOUBLE)
                        ELSE CAST({w_lang_d!r} AS DOUBLE) END
                   + CASE WHEN src_a = src_b
                          THEN CAST({w_src!r} AS DOUBLE)
                          ELSE CAST({w_src_d!r} AS DOUBLE) END
                   + CASE WHEN abs(len_a - len_b) * 10
                               <= least(len_a, len_b)
                          THEN CAST({w_len!r} AS DOUBLE)
                          ELSE CAST({w_len_d!r} AS DOUBLE) END
                   + CASE WHEN edit_distance <= 4
                          THEN CAST({w_key!r} AS DOUBLE)
                          ELSE CAST({w_key_d!r} AS DOUBLE) END)
                   * 1000000.0) AS BIGINT) AS fs_score_micro
          FROM j
        )
        SELECT * FROM scored WHERE fs_score_micro > 0"""


def _mst_oracle() -> str:
    """Mechanical replay of boruvka_mst_rounds(rounds=2) as chained CTEs.
    The per-round blocks and the two min-label merge hops are GENERATED
    by loops so the oracle cannot drift from the operator's dataflow
    (candidate join -> per-component argmin -> chosen-star label hops)."""
    blocks = ["""
        e AS (
          SELECT lo, hi, MIN(w) AS w FROM (
            SELECT least(o_custkey % 500, o_orderkey % 700) AS lo,
                   greatest(o_custkey % 500, o_orderkey % 700) AS hi,
                   o_orderkey AS w
            FROM orders
            WHERE (o_custkey % 500) <> (o_orderkey % 700))
          WHERE lo < hi GROUP BY lo, hi),
        l0 AS (
          SELECT node, node AS label FROM (
            SELECT DISTINCT node FROM (
              SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)))"""]
    lbl = "l0"
    for r in (1, 2):
        blocks.append(f"""
        c{r} AS (
          SELECT e.lo, e.hi, e.w, la.label AS la, lb.label AS lb
          FROM e
          JOIN {lbl} la ON e.lo = la.node
          JOIN {lbl} lb ON e.hi = lb.node
          WHERE la.label <> lb.label),
        p{r} AS (
          SELECT lo, hi, w, la, lb FROM (
            SELECT *, row_number() OVER (PARTITION BY comp
                                         ORDER BY w, lo, hi) AS rn
            FROM (SELECT la AS comp, w, lo, hi, la, lb FROM c{r}
                  UNION ALL
                  SELECT lb AS comp, w, lo, hi, la, lb FROM c{r}))
          WHERE rn = 1),
        ch{r} AS (SELECT DISTINCT lo, hi, w, la, lb FROM p{r}),
        le{r}_0 AS (
          SELECT DISTINCT x, y FROM (
            SELECT la AS x, lb AS y FROM ch{r}
            UNION ALL SELECT lb, la FROM ch{r}))""")
        led = f"le{r}_0"
        for hop in (1, 2):
            h, lbl_out, led_out = f"h{r}_{hop}", f"l{r}_{hop}", f"le{r}_{hop}"
            blocks.append(f"""
        {h} AS (
          SELECT x, least(COALESCE(MIN(y), x), x) AS newx
          FROM (SELECT DISTINCT label AS x FROM {lbl}) m
          LEFT JOIN {led} USING (x)
          GROUP BY x),
        {lbl_out} AS (
          SELECT l.node, h.newx AS label
          FROM {lbl} l JOIN {h} h ON l.label = h.x),
        {led_out} AS (
          SELECT DISTINCT hx.newx AS x, hy.newx AS y
          FROM {led} le
          JOIN {h} hx ON le.x = hx.x
          JOIN {h} hy ON le.y = hy.x
          WHERE hx.newx <> hy.newx)""")
            lbl, led = lbl_out, led_out
    return (
        "WITH " + ",".join(blocks) + """
        SELECT DISTINCT lo, hi, CAST(w AS BIGINT) AS w FROM (
          SELECT lo, hi, w FROM ch1
          UNION ALL SELECT lo, hi, w FROM ch2)"""
    )


def _theta_diff_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import theta_anotb_sql

    return theta_anotb_sql(
        "o_custkey",
        "(SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1996)",
        "o_custkey",
        "(SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1997)",
        k=512,
    )


def _hll_overlap_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import hll_overlap_sql

    return hll_overlap_sql(
        "o_custkey",
        "(SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1996)",
        "o_custkey",
        "(SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1997)",
        p=8,
    )


def _zorder_oracle() -> str:
    from iowa_liquor_sales_spark.operators.layout import zorder_sql

    zv = zorder_sql("l_partkey", "l_suppkey", bits=16)
    return f"""
        SELECT ({zv}) >> 22 AS z_bucket,
               COUNT(*) AS n_rows,
               MIN(l_partkey) AS min_part,
               MAX(l_partkey) AS max_part,
               MIN(l_suppkey) AS min_supp,
               MAX(l_suppkey) AS max_supp
        FROM lineitem
        GROUP BY z_bucket
        ORDER BY z_bucket"""


def _pagerank_oracle(iters: int = 3) -> str:
    # Chained-CTE rendering of graph.pagerank_e12 (bit-identical floor
    # division). e0.s/e0.d qualified explicitly: DuckDB lateral column
    # aliases would otherwise capture `s AS d` against the new alias.
    parts = [
        """WITH e0 AS (
          SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT s, d FROM e0
              UNION ALL SELECT e0.d AS s, e0.s AS d FROM e0),
        n AS (SELECT DISTINCT s AS node FROM e),
        deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM n)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
          SELECT e.d AS node, SUM(r{i-1}.r * 85 // (100 * deg.deg)) AS infl
          FROM e JOIN deg ON e.s = deg.s JOIN r{i-1} ON r{i-1}.node = e.s
          GROUP BY e.d),
        r{i} AS (
          SELECT n.node,
                 CAST(150000000000 + COALESCE(infl, 0) AS BIGINT) AS r
          FROM n LEFT JOIN c{i} USING (node))"""
        )
    return (
        ",\n".join(parts)
        + f"""
        SELECT node, r AS rank_e12 FROM r{iters}
        ORDER BY rank_e12 DESC, node LIMIT 20"""
    )


def _textrank_oracle(iters: int = 2, k: int = 20) -> str:
    # Chained-CTE rendering of text.textrank_keywords: adjacent-word
    # co-occurrence edges (distinct, symmetrized) + the same unrolled
    # integer-grid PageRank as _pagerank_oracle, over STRING nodes.
    parts = [
        """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        bp AS (SELECT ws[i] AS wa, ws[i + 1] AS wb
               FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
               WHERE len(ws) >= 2),
        e AS (SELECT wa AS s, wb AS d FROM bp WHERE wa <> wb
              UNION SELECT wb AS s, wa AS d FROM bp WHERE wa <> wb),
        n AS (SELECT DISTINCT s AS node FROM e),
        deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM n)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
          SELECT e.d AS node, SUM(r{i-1}.r * 85 // (100 * deg.deg)) AS infl
          FROM e JOIN deg ON e.s = deg.s JOIN r{i-1} ON r{i-1}.node = e.s
          GROUP BY e.d),
        r{i} AS (
          SELECT n.node,
                 CAST(150000000000 + COALESCE(infl, 0) AS BIGINT) AS r
          FROM n LEFT JOIN c{i} USING (node))"""
        )
    return (
        ",\n".join(parts)
        + f"""
        SELECT node AS word, r AS rank_e12,
               CAST(row_number() OVER (ORDER BY r DESC, node)
                    AS INTEGER) AS rnk
        FROM r{iters} QUALIFY rnk <= {k}"""
    )


def _coreness_oracle(rounds: int = 3) -> str:
    # Chained-CTE rendering of graph.coreness_hindex: c0 = degree, then
    # per round the h-index of neighbor values via a per-node window —
    # max(least(rank, value)) over the desc-sorted neighbor multiset.
    parts = [
        """WITH base AS (
          SELECT o_custkey % 500 AS s, o_orderkey % 700 AS d FROM orders),
        und AS (SELECT DISTINCT least(s, d) AS lo, greatest(s, d) AS hi
                FROM base WHERE least(s, d) < greatest(s, d)),
        e AS (SELECT lo AS a, hi AS b FROM und
              UNION ALL SELECT hi AS a, lo AS b FROM und),
        c0 AS (SELECT a AS v, COUNT(*) AS c FROM e GROUP BY a)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""n{r} AS (SELECT e.a AS v, c{r-1}.c AS cv
                 FROM e JOIN c{r-1} ON c{r-1}.v = e.b),
        c{r} AS (SELECT v, MAX(LEAST(rn, cv)) AS c FROM (
                   SELECT v, cv, row_number() OVER (
                       PARTITION BY v ORDER BY cv DESC) AS rn
                   FROM n{r}) GROUP BY v)"""
        )
    return (
        ",\n".join(parts)
        + f"""
        SELECT v AS node, CAST(c AS BIGINT) AS coreness FROM c{rounds}"""
    )


def _ppr_oracle(iters: int = 2, seeds: tuple[int, ...] = (2, 4, 6)) -> str:
    # Chained-CTE rendering of graph.pagerank_personalized_e12:
    # hugeint product/floor-div mirrors the Spark DECIMAL(38,0) path
    # bit-for-bit; teleport lands only on the seed list.
    n_s = len(seeds)
    seed_list = ", ".join(str(s) for s in seeds)
    tele = (15 * 10**12) // (100 * n_s)
    init = 10**12 // n_s
    parts = [
        f"""WITH e0 AS (
          SELECT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d, COUNT(*) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2),
        e AS (SELECT s, d, w FROM e0
              UNION ALL SELECT e0.d AS s, e0.s AS d, e0.w AS w FROM e0),
        n AS (SELECT DISTINCT s AS node FROM e),
        ws AS (SELECT s, SUM(w) AS wsum FROM e GROUP BY s),
        r0 AS (SELECT node,
                      CASE WHEN node IN ({seed_list})
                           THEN CAST({init} AS BIGINT) ELSE 0 END AS r
               FROM n)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
          SELECT e.d AS node,
                 SUM((CAST(r{i-1}.r AS HUGEINT) * 85 * e.w)
                     // (CAST(100 AS HUGEINT) * ws.wsum)) AS infl
          FROM e JOIN ws ON e.s = ws.s JOIN r{i-1} ON r{i-1}.node = e.s
          GROUP BY e.d),
        r{i} AS (
          SELECT n.node,
                 CAST(CASE WHEN n.node IN ({seed_list})
                           THEN {tele} ELSE 0 END
                      + COALESCE(infl, 0) AS BIGINT) AS r
          FROM n LEFT JOIN c{i} USING (node))"""
        )
    return (
        ",\n".join(parts)
        + f"""
        SELECT node, r AS rank_e12 FROM r{iters}
        ORDER BY rank_e12 DESC, node LIMIT 20"""
    )


def _pq_oracle(
    query_id: int = 0,
    k: int = 10,
    m_sub: int = 8,
    ksub: int = 4,
    dsub: int = 8,
    n_cells: int | None = None,
) -> str:
    # Chained-CTE replay of similarity.pq_topk with iters=1: e6 grid,
    # md5 'pq' seeding, per-subspace assign/update (DuckDB's integral
    # // truncates toward zero — the Python update sign-handles to
    # match), encode against the updated codebooks, integer ADC top-k.
    # With n_cells set, replays similarity.ivf_pq_topk instead: the
    # q_ann_ivf coarse-assignment CTEs restrict the scored codes to the
    # query's cell before the ADC sum.
    d2 = (
        "list_sum(list_transform(generate_series(1, {n}),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )
    ivf_ctes = ""
    ivf_filter = ""
    if n_cells is not None:
        ivf_ctes = f"""
        cent AS (SELECT vec_id AS ccid, embedding AS cvec
                 FROM embeddings WHERE vec_id < {n_cells}),
        cellasg AS (
          SELECT vec_id AS vid, ccid AS cell FROM (
            SELECT e.vec_id, c.ccid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                                    e.embedding::DOUBLE[],
                                    c.cvec::DOUBLE[]) DESC,
                                c.ccid) AS rn
            FROM embeddings e CROSS JOIN cent c)
          WHERE rn = 1),
        qcell AS (SELECT cell AS q_cell FROM cellasg
                  WHERE vid = {query_id}),"""
        ivf_filter = (
            "\n                JOIN cellasg ca ON codes.vid = ca.vid"
            "\n                JOIN qcell ON ca.cell = qcell.q_cell"
        )
    return f"""
        WITH q AS (SELECT vec_id AS vid,
                          list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                        + 0.5) AS BIGINT)) AS q
                   FROM embeddings),
        sub AS (SELECT vid, m,
                       list_slice(q, m * {dsub} + 1,
                                  m * {dsub} + {dsub}) AS sq
                FROM q CROSS JOIN UNNEST(generate_series(0, {m_sub - 1}))
                       AS t(m)),
        hashed AS (SELECT vid, q,
                          CAST(('0x' || substr(md5('pq' ||
                               CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT)
                            AS h
                   FROM q),
        seeds AS (SELECT cid, q FROM (
                    SELECT q, CAST(row_number() OVER (ORDER BY h, vid)
                                   AS INT) - 1 AS cid
                    FROM hashed)
                  WHERE cid < {ksub}),
        c0 AS (SELECT m, cid,
                      list_slice(q, m * {dsub} + 1,
                                 m * {dsub} + {dsub}) AS c
               FROM seeds CROSS JOIN UNNEST(generate_series(0, {m_sub - 1}))
                    AS t(m)),
        a1 AS (SELECT sub.vid, sub.m, sub.sq, c0.cid,
                      {d2.format(n=dsub, a='sub.sq', b='c0.c')} AS d
               FROM sub JOIN c0 ON sub.m = c0.m),
        b1 AS (SELECT vid, m, sq, cid FROM a1
               QUALIFY row_number() OVER (
                   PARTITION BY vid, m ORDER BY d, cid) = 1),
        s1 AS (SELECT m, cid, pos, SUM(x) AS s, COUNT(*) AS n
               FROM (SELECT m, cid,
                            CAST(generate_subscripts(sq, 1) AS INT) AS pos,
                            unnest(sq) AS x
                     FROM b1)
               GROUP BY m, cid, pos),
        c1 AS (SELECT m, cid, list(s // n ORDER BY pos) AS c
               FROM s1 GROUP BY m, cid),
        a2 AS (SELECT sub.vid, sub.m, c1.cid,
                      {d2.format(n=dsub, a='sub.sq', b='c1.c')} AS d
               FROM sub JOIN c1 ON sub.m = c1.m),
        codes AS (SELECT vid, m, cid FROM a2
                  QUALIFY row_number() OVER (
                      PARTITION BY vid, m ORDER BY d, cid) = 1),
        qsub AS (SELECT m, sq FROM sub WHERE vid = {query_id}),
        lut AS (SELECT c1.m, c1.cid,
                       {d2.format(n=dsub, a='qsub.sq', b='c1.c')} AS qd
                FROM c1 JOIN qsub ON c1.m = qsub.m),{ivf_ctes}
        adc AS (SELECT codes.vid, SUM(lut.qd) AS adc
                FROM codes JOIN lut ON codes.m = lut.m
                                    AND codes.cid = lut.cid{ivf_filter}
                WHERE codes.vid != {query_id}
                GROUP BY codes.vid)
        SELECT vid AS vec_id,
               CAST(row_number() OVER (ORDER BY adc, vid) AS INT) AS rnk,
               CAST(adc AS BIGINT) AS adc
        FROM adc ORDER BY adc, vid LIMIT {k}"""


def _kcenter_oracle(k: int = 4) -> str:
    # Chained-CTE replay of similarity.kcenter_greedy: one (c_i, d_i)
    # CTE pair per greedy round; d_i folds the new center's distance in
    # with LEAST, c_{i+1} is the deterministic argmax.
    dist = (
        "CAST(list_sum(list_transform(generate_series(1, 64),"
        " i -> ({a}.q[i] - {c}.q[i]) * ({a}.q[i] - {c}.q[i]))) AS BIGINT)"
    )
    parts = [
        """WITH v AS (
          SELECT vec_id AS pid,
                 list_transform(embedding,
                                x -> CAST(floor(x * 1000) AS BIGINT)) AS q
          FROM embeddings),
        c1 AS (SELECT pid, q FROM v ORDER BY pid LIMIT 1),
        d1 AS (SELECT v.pid, v.q, """
        + dist.format(a="v", c="c")
        + """ AS mind FROM v, c1 c)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""c{i} AS (SELECT pid, q, mind FROM d{i-1}
               ORDER BY mind DESC, pid LIMIT 1)"""
        )
        if i < k:
            parts.append(
                f"""d{i} AS (SELECT d.pid, d.q,
                   LEAST(d.mind, {dist.format(a='d', c='c')}) AS mind
                 FROM d{i-1} d, c{i} c)"""
            )
    rows = [
        "SELECT CAST(1 AS INTEGER) AS round,"
        " (SELECT pid FROM c1) AS vec_id, CAST(0 AS BIGINT) AS sel_dist"
    ]
    for i in range(2, k + 1):
        rows.append(
            f"SELECT CAST({i} AS INTEGER), pid,"
            f" CAST(mind AS BIGINT) FROM c{i}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(rows)


def _sssp_oracle(iters: int = 3) -> str:
    # Chained-CTE replay of graph.sssp_rounds (Bellman-Ford relax per
    # round, explicit CASE min so NULL semantics are unambiguous).
    parts = [
        """WITH e0 AS (
          SELECT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d,
                 MIN(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2),
        e AS (SELECT s, d, w FROM e0
              UNION ALL SELECT e0.d AS s, e0.s AS d, e0.w AS w FROM e0),
        n AS (SELECT DISTINCT s AS node FROM e),
        d0 AS (SELECT node,
                      CASE WHEN node = 2 THEN CAST(0 AS BIGINT) END AS dist
               FROM n)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
          SELECT e.d AS node, MIN(d{i-1}.dist + e.w) AS nd
          FROM e JOIN d{i-1} ON d{i-1}.node = e.s
          WHERE d{i-1}.dist IS NOT NULL GROUP BY e.d),
        d{i} AS (
          SELECT n.node,
                 CASE WHEN dist IS NULL THEN nd
                      WHEN nd IS NULL THEN dist
                      WHEN nd < dist THEN nd ELSE dist END AS dist
          FROM n LEFT JOIN d{i-1} USING (node)
                 LEFT JOIN c{i} USING (node))"""
        )
    return (
        ",\n".join(parts)
        + f"""
        SELECT node, CAST(dist AS BIGINT) AS dist FROM d{iters}
        WHERE dist IS NOT NULL"""
    )


def _burst_oracle() -> str:
    # list_reduce replay of temporal.burst_segments: identical tropical
    # combine (generated from the same _burst_combine_sql), identity
    # matrix prepended because DuckDB's list_reduce seeds with the first
    # element.
    from iowa_liquor_sales_spark.operators.temporal import _burst_combine_sql

    inf = 10**15
    combine = _burst_combine_sql("acc", "m", lambda arr, i: f"{arr}[{i}]")
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        tot AS (SELECT event_type, SUM(n) AS total, COUNT(*) AS nd
                FROM daily GROUP BY 1),
        hot AS (SELECT d.event_type, day,
                       CASE WHEN n * nd > 2 * total THEN 1 ELSE 0 END AS x
                FROM daily d JOIN tot USING (event_type)),
        per AS (SELECT event_type, list(x ORDER BY day) AS xs,
                       SUM(x) AS n_hot, COUNT(*) AS n_days
                FROM hot GROUP BY 1),
        mm AS (SELECT event_type, n_hot, n_days,
                      list_transform(xs, x -> [
                          CAST(x AS BIGINT), 0,
                          CAST(2 + 2 * (1 - x) AS BIGINT), 1,
                          CAST(x AS BIGINT), 0,
                          CAST(2 * (1 - x) AS BIGINT), 1]) AS mats
               FROM per),
        ff AS (SELECT event_type, n_hot, n_days,
                      list_reduce(
                          list_prepend(
                              [0, 0, {inf}, 0, {inf}, 0, 0, 0]::BIGINT[],
                              mats),
                          (acc, m) -> [{combine}]) AS f
               FROM mm)
        SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
               CAST(n_hot AS BIGINT) AS n_hot,
               CAST(CASE WHEN f[1] <= f[3] THEN f[2] ELSE f[4] END
                    AS BIGINT) AS burst_days,
               CAST(LEAST(f[1], f[3]) AS BIGINT) AS path_cost
        FROM ff"""


def _hits_oracle(iters: int = 2) -> str:
    # Chained-CTE rendering of graph.hits_e6: per half-round, sum the
    # opposite score over the directed edge set, then floor-div rescale
    # by the round's max (scalar subquery) — bit-identical to Spark's
    # broadcast-max crossJoin.
    parts = [
        """WITH e AS (
          SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        n AS (SELECT s AS node FROM e UNION SELECT d AS node FROM e),
        h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""ar{i} AS (
          SELECT e.d AS node, SUM(h{i-1}.h) AS raw
          FROM e JOIN h{i-1} ON h{i-1}.node = e.s GROUP BY e.d),
        a{i} AS (
          SELECT n.node,
                 COALESCE(raw, 0) * 1000000
                   // GREATEST((SELECT MAX(raw) FROM ar{i}), 1) AS a
          FROM n LEFT JOIN ar{i} USING (node)),
        hr{i} AS (
          SELECT e.s AS node, SUM(a{i}.a) AS raw
          FROM e JOIN a{i} ON a{i}.node = e.d GROUP BY e.s),
        h{i} AS (
          SELECT n.node,
                 COALESCE(raw, 0) * 1000000
                   // GREATEST((SELECT MAX(raw) FROM hr{i}), 1) AS h
          FROM n LEFT JOIN hr{i} USING (node))"""
        )
    return (
        ",\n".join(parts)
        + f"""
        SELECT node, CAST(h AS BIGINT) AS hub_e6, CAST(a AS BIGINT) AS auth_e6
        FROM h{iters} JOIN a{iters} USING (node)
        ORDER BY auth_e6 DESC, hub_e6 DESC, node LIMIT 20"""
    )



# ---- round-2 curation/dedup additions


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023) deterministic variant: IVF cell
    # assignment (broadcast-centroid argmax, same quantizer as q_ann_ivf)
    # then drop members too close to the cell's min-id keeper
    # (operators/curation.semdedup). Oracle reuses the exact cell
    # assignment SQL + list_cosine_similarity to the keeper.
    from iowa_liquor_sales_spark.operators.curation import semdedup

    return semdedup(
        read_table(spark, sf, "embeddings"), n_cells=16, min_cosine=0.45
    )


def q_minhash_est(spark: SparkSession, sf: str) -> DataFrame:
    # MinHash Jaccard ESTIMATION (operators/dedup.minhash_jaccard_est):
    # same banded-LSH candidates as q_minhash_lsh, but scored by signature
    # agreement (agree_k/32 as exact ppm) instead of exact shingle-set
    # verification -- the O(k)-per-pair screen used at corpus scale.
    from iowa_liquor_sales_spark.operators.dedup import minhash_jaccard_est

    return minhash_jaccard_est(
        read_table(spark, sf, "documents"), "text", "doc_id",
        n=3, num_hashes=32, rows_per_band=4,
    )


def q_quality_weights(spark: SparkSession, sf: str) -> DataFrame:
    # Model-based quality filter (operators/curation.quality_score_linear):
    # fixed-weight linear classifier over exact integer ppm features --
    # the transparent stand-in for a fasttext-style quality model.
    from iowa_liquor_sales_spark.operators.curation import quality_score_linear

    return quality_score_linear(read_table(spark, sf, "documents"))


def q_source_cap(spark: SparkSession, sf: str) -> DataFrame:
    # Per-domain volume caps (operators/curation.cap_per_source): keep at
    # most 20 docs per source by deterministic md5 hash rank -- the
    # data-mixing downsampling pass.
    from iowa_liquor_sales_spark.operators.curation import cap_per_source

    return cap_per_source(
        read_table(spark, sf, "documents"), max_per_source=20
    )


def q_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    # Near-dup cluster size histogram (operators/graph.
    # cluster_size_histogram over dedup_clusters): the shape-of-
    # duplication report; heavy tail = boilerplate flooding the corpus.
    from iowa_liquor_sales_spark.operators.dedup import jaccard_pairs, shingles
    from iowa_liquor_sales_spark.operators.graph import (
        cluster_size_histogram,
        dedup_clusters,
    )

    docs = read_table(spark, sf, "documents")
    cap = max(1, int(0.05 * docs.count()))
    pairs = jaccard_pairs(
        shingles(docs, "text", "doc_id", n=3), min_jaccard=0.5, max_df=cap
    )
    return cluster_size_histogram(dedup_clusters(pairs))


def q_dup_ngram(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher-style intra-doc repetition: duplicate 2-gram fraction in
    # exact ppm (operators/text.dup_ngram_stats). Pure array expressions,
    # zero shuffle.
    from iowa_liquor_sales_spark.operators.text import dup_ngram_stats

    return dup_ngram_stats(read_table(spark, sf, "documents"), n=2)


def q_dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    # Normalization-robust exact dedup (operators/dedup.dedup_normalized):
    # case/punct/whitespace variants collapse to one md5 bucket. Same
    # single hash-groupBy plan as q_dedup_exact.
    from iowa_liquor_sales_spark.operators.dedup import dedup_normalized

    return dedup_normalized(read_table(spark, sf, "documents"), "text", "doc_id")


def q_cross_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental-ingest near-dup: even doc_ids are the incoming batch,
    # odd the existing corpus; MinHash+LSH candidates across sides only,
    # exact-Jaccard verified (operators/dedup.minhash_lsh_cross).
    from iowa_liquor_sales_spark.operators.dedup import minhash_lsh_cross

    docs = read_table(spark, sf, "documents")
    return minhash_lsh_cross(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
        n=3,
        num_hashes=32,
        rows_per_band=4,
        min_jaccard=0.8,
    ).select("left_id", "right_id", floor_scaled(F.col("jaccard"), 9, "jaccard_ppb"))


def q_word_entropy(spark: SparkSession, sf: str) -> DataFrame:
    # Unigram Shannon entropy per document (operators/text.word_entropy):
    # perplexity proxy, pure array higher-order exprs, zero shuffle.
    from iowa_liquor_sales_spark.operators.text import word_entropy

    return word_entropy(read_table(spark, sf, "documents"))


def q_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus length histogram on power-of-two word-count buckets
    # (operators/text.length_histogram): one map-side-combinable agg.
    from iowa_liquor_sales_spark.operators.text import length_histogram

    return length_histogram(read_table(spark, sf, "documents"))


def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    # Overlapping 10-min/5-min hopping windows (streaming/events.
    # sliding_counts, batch twin of the streaming plan). Window start/end
    # exported as epoch micros (timezone-independent instants).
    from iowa_liquor_sales_spark.streaming.events import sliding_counts

    return sliding_counts(read_table(spark, sf, "events")).select(
        epoch_us("window_start").alias("window_start_us"),
        epoch_us("window_end").alias("window_end_us"),
        "n_events",
        "n_users",
    )


def q_mix_temperature(spark: SparkSession, sf: str) -> DataFrame:
    # Temperature-scaled (alpha=0.5) domain-mixing weights per source
    # (operators/curation.temperature_weights).
    from iowa_liquor_sales_spark.operators.curation import temperature_weights

    return temperature_weights(read_table(spark, sf, "documents"), alpha=0.5)


def q_corr_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Bivariate statistical aggregates per group: Pearson correlation,
    # sample/population covariance, and the SQL-standard linear-regression
    # family (slope/intercept/r2/count) of extendedprice on quantity.
    # One map-side-combinable moment aggregate — O(groups) shuffle rows.
    # Exact integer moments (qty units × price cents), deterministic
    # double finish, floor-scaled BIGINT outputs (bitwise-stable — native
    # covar/regr accumulators are partition-order sensitive).
    li = read_table(spark, sf, "lineitem")
    q = F.round("l_quantity").cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = (
        li.select("l_returnflag", q.alias("q"), pc.alias("pc"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            xsum("q", "sx_"),
            xsum(F.col("q") * F.col("q"), "sxx_"),
            xsum("pc", "sy_"),
            xsum(F.col("pc") * F.col("pc"), "syy_"),
            xsum(F.col("q") * F.col("pc"), "sxy_"),
        )
        .select(
            "l_returnflag",
            "n_pairs",
            F.col("n_pairs").cast("double").alias("n"),
            det_double("sx_").alias("sx"),
            det_double("sxx_").alias("sxx"),
            det_double("sy_").alias("sy"),
            det_double("syy_").alias("syy"),
            det_double("sxy_").alias("sxy"),
        )
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    cs = sxy - sx * sy / n
    denq = sxx - sx * sx / n
    denp = syy - sy * sy / n
    corr = cs / (F.sqrt(denq) * F.sqrt(denp))
    return g.select(
        "l_returnflag",
        floor_scaled(corr, 9, "corr_qty_price_ppb"),
        floor_scaled(cs / (n - 1) / 100, 3, "covar_s_milli"),
        floor_scaled(cs / n / 100, 3, "covar_p_milli"),
        floor_scaled(cs / denq / 100, 6, "slope_micro"),
        floor_scaled((sy / n - cs / denq * (sx / n)) / 100, 3, "intercept_milli"),
        floor_scaled(corr * corr, 9, "r2_ppb"),
        "n_pairs",
    )


def q_global_rank(spark: SparkSession, sf: str) -> DataFrame:
    # Distributed global row_number (operators/ranking.global_row_number):
    # range shuffle + narrow sort + O(#partitions) offsets instead of the
    # single-partition global window — THE scale fix for total ordering.
    from iowa_liquor_sales_spark.operators.ranking import global_row_number

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return global_row_number(o, ["o_orderkey"], out_col="rn")


def q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-document boilerplate detection: pairs of docs sharing >= 3
    # winnowing fingerprints (text.winnow_fingerprints self-joined on the
    # fingerprint — an inverted index over robust substring sketches, the
    # plagiarism-detection shape). Fingerprint df is bounded by the
    # winnowing guarantee (~2/(w+1) of positions), so the self-join is on
    # a sparse relation, not raw shingles.
    from iowa_liquor_sales_spark.operators.text import winnow_fingerprints

    fp = winnow_fingerprints(read_table(spark, sf, "documents"), k=4, w=5)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


def q_ann_sq8(spark: SparkSession, sf: str) -> DataFrame:
    # INT8 scalar-quantized ANN (operators/similarity.ann_sq8_topk): rank
    # by exact integer dot of 0..255 codes — 4x fewer bytes than float32,
    # engine-portable scores (the FAISS SQ8 ladder rung).
    from iowa_liquor_sales_spark.operators.similarity import ann_sq8_topk

    emb = read_table(spark, sf, "embeddings")
    return ann_sq8_topk(emb, query_id=0, k=10).select("vec_id", "rnk", "qdot")


def q_ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    # Product-quantization ANN (operators/similarity.pq_topk): 8
    # subspace codebooks of 4 centroids (1 exact Lloyd iteration each),
    # vectors encoded to 8 codes, candidates ranked by integer ADC —
    # 8 bytes/vector, the memory rung below SQ8. Chained-CTE oracle
    # replays the whole train/encode/score pipeline.
    from iowa_liquor_sales_spark.operators.similarity import pq_topk

    emb = read_table(spark, sf, "embeddings")
    return pq_topk(emb, query_id=0, k=10)


def q_ann_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    # IVF-PQ (operators/similarity.ivf_pq_topk): the FAISS IndexIVFPQ
    # composition — probe-1 coarse cells (the q_ann_ivf quantizer)
    # restrict candidates, PQ integer ADC ranks only those. The oracle
    # chains the IVF assignment CTEs into the PQ train/encode/score
    # replay.
    from iowa_liquor_sales_spark.operators.similarity import ivf_pq_topk

    emb = read_table(spark, sf, "embeddings")
    return ivf_pq_topk(emb, query_id=0, k=10)


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    # Hard-negative mining (operators/similarity.hard_negatives): per
    # anchor, the k nearest vectors from a DIFFERENT IVF pseudo-label
    # cell — contrastive-training data prep. Broadcast anchors, exact
    # int64 grid distances, per-anchor rank-limited window.
    from iowa_liquor_sales_spark.operators.similarity import hard_negatives

    return hard_negatives(read_table(spark, sf, "embeddings"))


def q_ann_recall_report(spark: SparkSession, sf: str) -> DataFrame:
    # Index observability (operators/similarity.ann_recall_report):
    # per-query recall@10 of probe-1 IVF vs the exact answer on the
    # same integer metric — the continuous index-drift monitor. Exact
    # integer output (recall ppm).
    from iowa_liquor_sales_spark.operators.similarity import (
        ann_recall_report,
    )

    return ann_recall_report(read_table(spark, sf, "embeddings"))


def q_ann_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    # Recall-vs-nprobe curve (operators/similarity.ann_recall_curve):
    # per (nprobe in 1,2,4; anchor) recall@10 of the nprobe nearest IVF
    # cells vs the exact answer on the same int64 metric — the FAISS
    # nprobe tuning report. Probe sets nest, so recall is monotone
    # non-decreasing in nprobe by construction; one scored relation
    # feeds every arm.
    from iowa_liquor_sales_spark.operators.similarity import ann_recall_curve

    return ann_recall_curve(read_table(spark, sf, "embeddings"))


def q_entity_resolution(spark: SparkSession, sf: str) -> DataFrame:
    # End-to-end entity resolution (operators/joins.resolve_entities):
    # fuzzy-match the part-name dictionary (PassJoin blocking +
    # histogram count filter), connect matches transitively (pointer-
    # jumping CC), elect the most-used spelling per cluster. The oracle
    # runs prefilter-free all-pairs levenshtein + recursive reachability.
    from iowa_liquor_sales_spark.operators.joins import resolve_entities

    return resolve_entities(read_table(spark, sf, "part"), "p_name", max_dist=2)


def q_textrank(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus keywords by TextRank (operators/text.textrank_keywords):
    # adjacent-word co-occurrence graph -> exact integer-grid PageRank
    # (graph.pagerank_e12, 2 unrolled iterations) -> top-20 words.
    from iowa_liquor_sales_spark.operators.text import textrank_keywords

    return textrank_keywords(read_table(spark, sf, "documents"), iters=2, k=20)


def q_auc(spark: SparkSession, sf: str) -> DataFrame:
    # Exact distributed ROC-AUC (operators/quality.auc_exact) of doc
    # length at predicting the 'en' language label: grouped
    # Mann-Whitney identity, integer pair counts, window over distinct
    # scores only. The number itself (~0.5, synthetic labels) is not
    # the point; the exact distributed computation is.
    #
    # QUANTIZE CONTRACT: the ordering window is O(distinct scores), so
    # continuous scores MUST be grid-quantized before calling — shown
    # here explicitly even though n_chars is already integral: the
    # floor-to-grid cast is the line to keep when swapping in a float
    # model score (e.g. F.floor(score * 1000) for a 3-decimal grid).
    from iowa_liquor_sales_spark.operators.quality import auc_exact

    docs = read_table(spark, sf, "documents").select(
        F.floor(F.col("n_chars")).cast("long").alias("score_q"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return auc_exact(docs, "score_q", "is_en")


def q_audio_segments(spark: SparkSession, sf: str) -> DataFrame:
    # VAD-shaped energy segmentation (multimodal/binary_ops.
    # speech_segments over audio_frame_rms, 32-sample frames): frames
    # at/above the median-ish RMS threshold form gaps-and-islands runs
    # per payload — the segment units an ASR pipeline feeds downstream.
    from iowa_liquor_sales_spark.multimodal.binary_ops import (
        attach_payload,
        audio_frame_rms,
        speech_segments,
    )

    docs = attach_payload(read_table(spark, sf, "documents"))
    frames = audio_frame_rms(docs, frame_samples=32)
    return speech_segments(frames, threshold_e3=25_500_000)


def q_reliability(spark: SparkSession, sf: str) -> DataFrame:
    # Calibration curve (operators/quality.reliability_bins): per
    # score-decile positive rate vs mean normalized score — the
    # companion to q_auc (ranking vs calibration). Same synthetic
    # score/label pair; the exact distributed aggregate is the point.
    from iowa_liquor_sales_spark.operators.quality import reliability_bins

    docs = read_table(spark, sf, "documents").withColumn(
        "is_en", F.col("lang") == "en"
    )
    return reliability_bins(docs, "n_chars", "is_en", n_bins=10)


def q_cuped(spark: SparkSession, sf: str) -> DataFrame:
    # CUPED variance-reduced A/B means (operators/quality.
    # cuped_adjusted_means, Deng et al. WSDM 2013): arm = user_id % 2,
    # pre = first-half-of-January value-cents per user, post = second
    # half; pooled theta from exact DECIMAL(38,0) moments through the
    # det_double hi/lo split, adjusted means floored at 1e-6.
    from iowa_liquor_sales_spark.operators.quality import cuped_adjusted_means

    ev = read_table(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    per_u = (
        ev.select(
            "user_id",
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            (F.col("ts") < cut).alias("is_pre"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum(F.when(F.col("is_pre"), F.col("cents")).otherwise(0)).alias("pre"),
            F.sum(F.when(~F.col("is_pre"), F.col("cents")).otherwise(0)).alias("post"),
        )
    )
    return cuped_adjusted_means(per_u)


def q_pr_curve(spark: SparkSession, sf: str) -> DataFrame:
    # Threshold sweep (operators/quality.pr_curve): precision/recall of
    # "keep score-bin >= t" per decile threshold — the operating-point
    # picker that completes the q_auc / q_reliability eval family.
    from iowa_liquor_sales_spark.operators.quality import pr_curve

    docs = read_table(spark, sf, "documents").withColumn(
        "is_en", F.col("lang") == "en"
    )
    return pr_curve(docs, "n_chars", "is_en", n_bins=10)


def q_assoc_rules(spark: SparkSession, sf: str) -> DataFrame:
    # Pairwise association rules (operators/aggregates.
    # association_rules): support/confidence/lift over order baskets at
    # part-category granularity (l_partkey % 50 — raw part pairs are
    # singletons at test sf). Basket-key self-join only; exact ppm/1e-6
    # integer measures through DECIMAL(38,0).
    from iowa_liquor_sales_spark.operators.aggregates import association_rules

    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 50).alias("cat")
    )
    return association_rules(li, "l_orderkey", "cat", min_support_ppm=5000)


def q_coreness(spark: SparkSession, sf: str) -> DataFrame:
    # Full k-core decomposition in one relation (operators/graph.
    # coreness_hindex): iterated neighbor h-indices converge from
    # degree down to each node's core number (Lü et al. 2016) — where
    # q_kcore answers membership at ONE k, this ranks every node. Same
    # orders-derived graph as q_kcore; 3 unrolled rounds.
    from iowa_liquor_sales_spark.operators.graph import coreness_hindex

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
    )
    return coreness_hindex(edges, rounds=3)


def q_minhash_calibration(spark: SparkSession, sf: str) -> DataFrame:
    # MinHash estimator calibration (operators/dedup.
    # minhash_calibration_report): |signature estimate - exact Jaccard|
    # per exact-Jaccard decile over the LSH candidate pairs — the
    # trust-the-estimate report for signature-only dedup decisions.
    from iowa_liquor_sales_spark.operators.dedup import (
        minhash_calibration_report,
    )

    return minhash_calibration_report(
        read_table(spark, sf, "documents"), "text", "doc_id"
    )


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    # Join-key skew diagnosis (operators/quality.join_skew_report):
    # top-10 heaviest l_orderkey values + exact ppm shares — the
    # pre-shuffle-join health check that decides between plain shuffle,
    # AQE skew split, and joins.salted_join.
    from iowa_liquor_sales_spark.operators.quality import join_skew_report

    return join_skew_report(
        read_table(spark, sf, "lineitem"), "l_orderkey", top_k=10
    )


def q_ivf_cells(spark: SparkSession, sf: str) -> DataFrame:
    # IVF index-health report (operators/similarity.ivf_cell_report):
    # per-cell vector counts + ppm shares, zero-vector cells included —
    # the imbalance monitor that pairs with q_ann_recall_report (recall
    # drift is the symptom; a ballooned/starved cell is the cause).
    from iowa_liquor_sales_spark.operators.similarity import ivf_cell_report

    return ivf_cell_report(read_table(spark, sf, "embeddings"), n_cells=16)


def q_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus collocations by pointwise mutual information
    # (operators/text.pmi_bigrams): three combinable aggregates + two
    # vocabulary joins; min_count drops the unstable rare tail.
    from iowa_liquor_sales_spark.operators.text import pmi_bigrams

    return pmi_bigrams(read_table(spark, sf, "documents"), min_count=5)


def q_skyline(spark: SparkSession, sf: str) -> DataFrame:
    # Per-brand Pareto frontier of (p_size, p_retailprice), maximize both
    # (operators/aggregates.skyline_2d): two window passes over one sort,
    # not the O(n²) EXISTS self-join the oracle uses.
    from iowa_liquor_sales_spark.operators.aggregates import skyline_2d

    p = read_table(spark, sf, "part").select(
        "p_brand", "p_size", "p_retailprice"
    )
    return skyline_2d(p, "p_brand", "p_size", "p_retailprice")


_BUCKETED_TABLES_READY: set = set()


def q_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    # Shuffle-free fact join via bucketing (sources/warehouse.bucketize):
    # orders and customer are written bucketed on the join key ONCE per
    # (session, sf); the join then plans SortMergeJoin over existing
    # buckets with zero Exchange (asserted in tests/test_plan_shapes.py).
    # The oracle sees only the result — identical to the plain join.
    from iowa_liquor_sales_spark.sources.warehouse import bucketize

    tag = abs(hash(sf)) % (1 << 30)
    t_orders, t_cust = f"b_orders_{tag}", f"b_customer_{tag}"
    key = (id(spark), sf)
    if key not in _BUCKETED_TABLES_READY:
        bucketize(
            read_table(spark, sf, "orders").select(
                "o_custkey", "o_totalprice"
            ),
            t_orders,
            ["o_custkey"],
            8,
            sort_cols=["o_custkey"],
        )
        bucketize(
            read_table(spark, sf, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            t_cust,
            ["c_custkey"],
            8,
            sort_cols=["c_custkey"],
        )
        _BUCKETED_TABLES_READY.add(key)
    o, c = spark.table(t_orders), spark.table(t_cust)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2, "total_price"),
        )
    )


def q_percentile_cont(spark: SparkSession, sf: str) -> DataFrame:
    # Exact interpolated percentiles (SQL percentile_cont semantics) per
    # group — the exact twin of the grid-quantile sketch. One sort-based
    # aggregate. Interpolating INTEGER CENTS at quartile fractions yields
    # exact quarter-cent values (lo + (hi-lo)*f with f in {0,.25,.5,.75}
    # is exact in double for cents < 2^51), so 4*val is a bit-exact
    # BIGINT in any engine — no float interpolation formula dependence.
    li = read_table(spark, sf, "lineitem")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    pct = F.percentile("pc", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75)]))
    per = li.select("l_returnflag", pc.alias("pc")).groupBy("l_returnflag").agg(
        pct.alias("pcts")
    )
    return per.select(
        "l_returnflag",
        F.posexplode("pcts").alias("pos", "val"),
    ).select(
        "l_returnflag",
        F.col("pos").cast("int").alias("pos"),
        (F.col("val") * 4).cast("long").alias("val_qcents"),
    )


def q_session_native(spark: SparkSession, sf: str) -> DataFrame:
    # Spark-native session_window aggregation (gap-merged event-time
    # sessions, the streaming-capable form of q_sessionize's lag/cumsum
    # plan). Start/end exported as epoch micros; end = last ts + gap.
    ev = read_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2, "sum_value"),
        )
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("session_start_us"),
            epoch_us(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def q_triangles(spark: SparkSession, sf: str) -> DataFrame:
    # Triangle count (operators/graph.triangle_count) over a deterministic
    # derived graph: edges between (custkey mod 500) and (orderkey mod 500
    # + 500) — a bipartite-with-folds projection dense enough to close
    # triangles once canonicalized to undirected (lo, hi) pairs.
    from iowa_liquor_sales_spark.operators.graph import triangle_count

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        ((F.col("o_orderkey") % 700)).alias("dst"),
    )
    return triangle_count(edges)


def q_regexp_extract_all(spark: SparkSession, sf: str) -> DataFrame:
    # regexp_extract_all surface: all digit runs per customer name —
    # count, first, last, and their integer sum (exact, engine-portable).
    c = read_table(spark, sf, "customer")
    nums = F.regexp_extract_all(F.col("c_name"), F.lit("([0-9]+)"), 1)
    return c.select(
        "c_custkey",
        F.size(nums).cast("int").alias("n_runs"),
        F.element_at(nums, 1).alias("first_run"),
        F.element_at(nums, -1).alias("last_run"),
        F.aggregate(
            F.transform(nums, lambda s: s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("digit_sum"),
    )


_COMPACT_CACHE: dict = {}


def q_compaction(spark: SparkSession, sf: str) -> DataFrame:
    # Maintenance round-trip: orders staged as 64 tiny files, compacted
    # (sources/warehouse.compact: staging dir + swap), then proven intact
    # with the order-independent XOR checksum. The oracle digests the
    # SOURCE table — identity through the compaction path.
    from iowa_liquor_sales_spark.operators.quality import table_checksum
    from iowa_liquor_sales_spark.sources.warehouse import compact

    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    src = read_table(spark, sf, "orders").select(*cols)
    path = _COMPACT_CACHE.get(sf)
    if path is None or not os.path.isdir(path):
        base = tempfile.mkdtemp(prefix="iowa_compact_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = base + "/orders"
        src.repartition(64).write.mode("overwrite").parquet(path)
        before, after = compact(spark, path, target_records_per_file=10**9)
        assert before >= 64 and after == 1, (before, after)
        _COMPACT_CACHE[sf] = path
    return table_checksum(read_parquet(spark, path, src.schema), cols)


_SCHEMA_EVO_CACHE: dict = {}


def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    # Two ingest batches with EVOLVED schemas in one dataset dir (batch 2
    # adds c_mktsegment); mergeSchema unifies the scan, missing columns
    # read as NULL. Oracle reconstructs the same union from the source.
    c = read_table(spark, sf, "customer")
    path = _SCHEMA_EVO_CACHE.get(sf)
    if path is None or not os.path.isdir(path):
        base = tempfile.mkdtemp(prefix="iowa_schema_evo_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = base + "/customer"
        c.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_acctbal"
        ).write.mode("overwrite").parquet(path)
        c.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ).write.mode("append").parquet(path)
        _SCHEMA_EVO_CACHE[sf] = path
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy((F.col("c_custkey") % 2).alias("batch")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("c_mktsegment").alias("n_seg"),
        dsum("c_acctbal", 2, "sum_bal"),
    )


def q_feature_hash(spark: SparkSession, sf: str) -> DataFrame:
    # Hashing-trick bag-of-words (operators/text.feature_hash): 16
    # md5-hash-bucket count columns per doc, vocabulary-free.
    from iowa_liquor_sales_spark.operators.text import feature_hash

    return feature_hash(read_table(spark, sf, "documents"), n_buckets=16)


def q_ngram_lm(spark: SparkSession, sf: str) -> DataFrame:
    # Bigram LM count tables with Kneser-Ney continuation type counts
    # (operators/text.ngram_lm_counts).
    from iowa_liquor_sales_spark.operators.text import ngram_lm_counts

    return ngram_lm_counts(read_table(spark, sf, "documents"), min_count=5)


def q_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    # MERGE-from-changelog (operators/upsert.apply_cdc): a deterministic
    # synthetic CDC stream (two ops per touched key, I/U/D by key+seq)
    # applied to the orders snapshot; highest seq wins, 'D' deletes.
    from iowa_liquor_sales_spark.operators.upsert import apply_cdc

    snap = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    ch = (
        snap.filter(k % 7 == 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("seq"),
        )
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000 * (F.col("seq") + 1))
            .cast("double")
            .alias("o_totalprice"),
            F.lit("X").alias("o_orderstatus"),
            F.when((k + F.col("seq")) % 4 == 0, "D")
            .when((k + F.col("seq")) % 4 == 1, "I")
            .otherwise("U")
            .alias("op"),
            "seq",
        )
    )
    return apply_cdc(snap, ch, ["o_orderkey"], "seq")


def q_stream_attribution(spark: SparkSession, sf: str) -> DataFrame:
    # Batch twin of the watermarked stream-stream interval join
    # (streaming/events.attribute_purchases): every purchase matched to
    # ALL of the same user's clicks in the preceding hour. The operator
    # runs the identical plan on batch inputs (minus watermarks/state),
    # so this gates the JOIN SEMANTICS the streaming form relies on; the
    # state-eviction behavior stays pytest-covered (test_streaming's
    # stream==batch equivalence). Timestamps exported as epoch micros,
    # value as exact cents.
    from iowa_liquor_sales_spark.streaming.events import attribute_purchases

    ev = read_table(spark, sf, "events")
    out = attribute_purchases(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
    )
    return out.select(
        "user_id",
        "purchase_id",
        epoch_us("purchase_ts").alias("purchase_us"),
        F.floor(F.col("purchase_value") * 100).cast("long").alias(
            "purchase_cents"
        ),
        "click_id",
        epoch_us("click_ts").alias("click_us"),
    )


def q_cdc_microbatch(spark: SparkSession, sf: str) -> DataFrame:
    # Sequential micro-batch CDC fold — the foreachBatch sink semantics
    # (test_streaming.test_streaming_cdc_upsert_sink): the synthetic
    # changelog split into 3 seq-ordered micro-batches, apply_cdc run
    # once per batch against the evolving snapshot. With a globally
    # unique per-key seq the fold is associative (the last batch that
    # touches a key decides = the global max-seq change), so the oracle
    # replays the ONE-SHOT apply — exactly the equivalence the streaming
    # sink depends on for exactly-once replays.
    from iowa_liquor_sales_spark.operators.upsert import apply_cdc

    snap = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    ch = (
        snap.filter(k % 7 == 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("seq"),
        )
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000 * (F.col("seq") + 1))
            .cast("double")
            .alias("o_totalprice"),
            F.lit("X").alias("o_orderstatus"),
            F.when((k + F.col("seq")) % 4 == 0, "D")
            .when((k + F.col("seq")) % 4 == 1, "I")
            .otherwise("U")
            .alias("op"),
            "seq",
        )
    )
    state = snap
    for b in range(3):
        state = apply_cdc(
            state, ch.filter(F.col("seq") == b), ["o_orderkey"], "seq"
        )
    return state


def q_from_json(spark: SparkSession, sf: str) -> DataFrame:
    # Schema-full JSON parsing (from_json -> typed struct), the
    # production-path alternative to per-field get_json_object: one parse
    # per row, Catalyst sees typed fields (filters/aggregates push
    # through). Malformed rows would land as NULL struct (PERMISSIVE).
    ev = read_table(spark, sf, "events")
    parsed = ev.select(
        "event_id",
        "event_type",
        F.from_json("props", "k INT").alias("p"),
    )
    return (
        parsed.select("event_type", F.col("p.k").alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def q_pandas_udf(spark: SparkSession, sf: str) -> DataFrame:
    # The documented Arrow pandas_udf escape hatch (functions/udfs.
    # ssq_q20_py): fixed-point sum-of-squares of the embedding — integer
    # output, bit-identical on any BLAS build (a float L2 reduction is
    # order-sensitive in the last ulp; see udfs.l2_norm_py's docstring).
    from iowa_liquor_sales_spark.functions.udfs import ssq_q20_py

    emb = read_table(spark, sf, "embeddings")
    return emb.select("vec_id", ssq_q20_py("embedding").alias("ssq_q20"))


def q_cogroup(spark: SparkSession, sf: str) -> DataFrame:
    # The two-sided Arrow grouped-map surface (cogroup + applyInPandas):
    # per customer, orders and the customer row meet in one pandas batch.
    # Keys absent from either side arrive with an empty frame — the
    # oracle is the equivalent outer-join aggregate.
    import pandas as pd

    o = read_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf, "customer").select("c_custkey", "c_acctbal")

    def merge(key, orders_pdf: pd.DataFrame, cust_pdf: pd.DataFrame) -> pd.DataFrame:
        # Exact cents arithmetic: float sums here would be order-sensitive.
        total_cents = int(
            round(orders_pdf["o_totalprice"].fillna(0).mul(100).round().sum())
        )
        bal_cents = (
            int(round(cust_pdf["c_acctbal"].iloc[0] * 100))
            if len(cust_pdf)
            else 0
        )
        return pd.DataFrame(
            {
                "custkey": [int(key[0])],
                "n_orders": [len(orders_pdf)],
                "total_cents": [total_cents],
                "bal_cents": [bal_cents],
            }
        )

    grouped = o.groupBy(F.col("o_custkey").alias("custkey")).cogroup(
        c.groupBy(F.col("c_custkey").alias("custkey"))
    )
    return grouped.applyInPandas(
        merge,
        "custkey long, n_orders long, total_cents long, bal_cents long",
    )


def q_nullsafe_join(spark: SparkSession, sf: str) -> DataFrame:
    # Null-safe equality join (<=>): both sides derive a NULLABLE bucket
    # (nullif), and NULL <=> NULL matches — the semantics a plain = join
    # silently drops. Oracle: IS NOT DISTINCT FROM.
    o = read_table(spark, sf, "orders").select(
        F.nullif("o_orderstatus", F.lit("O")).alias("status_b"),
        "o_totalprice",
    )
    dim = read_table(spark, sf, "orders").groupBy(
        F.nullif("o_orderstatus", F.lit("O")).alias("status_b")
    ).agg(F.count(F.lit(1)).alias("dim_n"))
    return (
        o.join(dim, o["status_b"].eqNullSafe(dim["status_b"]))
        .groupBy(o["status_b"].alias("status_b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("dim_n").alias("dim_n"),
        )
    )


def q_ewma(spark: SparkSession, sf: str) -> DataFrame:
    # Exponentially weighted moving average per user series — the
    # recursive aggregate window functions can't express. Series collect
    # to an ordered array per key (state bounded by series length — at
    # longer horizons chunk by day or go stateful-streaming) and a
    # higher-order aggregate runs the recursion JVM-side; both engines
    # fold left in the same order, so doubles agree to the last ulp
    # (rounded anyway).
    ev = read_table(spark, sf, "events")
    vals = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", F.col("value").alias("v")))
        ),
        lambda s: s["v"],
    )
    per = ev.groupBy("user_id").agg(vals.alias("vals"))
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1).cast("double"),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return per.select(
        "user_id",
        F.size("vals").cast("int").alias("n"),
        floor_scaled(ewma, 6, "ewma_micro"),
    )


def q_cumulative_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # Cumulative distinct users by day via the first-seen trick: a
    # running COUNT(DISTINCT) window is unsupported (and unscalable);
    # min-date per user + a running SUM over the daily-new counts is the
    # same number with O(users) + O(days) state.
    ev = read_table(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    daily = first_seen.groupBy("d0").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.datediff("d0", F.lit("1970-01-01")).cast("int").alias("epoch_day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


def q_haversine(spark: SparkSession, sf: str) -> DataFrame:
    # Geo surface: great-circle distance (haversine) from deterministic
    # per-customer coordinates to a fixed point; ranking on an integer
    # meter grid so a last-ulp trig difference can never flip a rank.
    c = read_table(spark, sf, "customer")
    lat = ((F.col("c_custkey") % 120) - 60 + F.lit(0.25)).cast("double")
    lon = (((F.col("c_custkey") * 7) % 360) - 180 + F.lit(0.25)).cast("double")
    lat0, lon0 = F.lit(41.6), F.lit(-93.6)
    dphi = F.radians(lat - lat0)
    dlmb = F.radians(lon - lon0)
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(F.radians(lat0))
        * F.cos(F.radians(lat))
        * F.sin(dlmb / 2)
        * F.sin(dlmb / 2)
    )
    dist_km = F.lit(2.0) * F.lit(6371.0) * F.asin(F.sqrt(a))
    scored = c.select(
        "c_custkey",
        F.floor(dist_km * 1000 + 0.5).cast("long").alias("dist_m"),
    )
    w = Window.orderBy(F.col("dist_m").asc(), F.col("c_custkey").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
        .select("c_custkey", "dist_m", "rnk")
    )


def q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    # BM25 retrieval scoring (operators/text.bm25_scores): automatic
    # 3-term query (highest-df words), integer-grid per-term scores so
    # the doc sum is exactly engine-reproducible.
    from iowa_liquor_sales_spark.operators.text import bm25_scores

    return bm25_scores(read_table(spark, sf, "documents"))


def q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    # Hybrid retrieval: reciprocal-rank fusion of the exact-cosine
    # ranking and the SQ8 integer-dot ranking against query vec 0 —
    # rrf = 1/(60+r_cos) + 1/(60+r_sq8), top 20. Both input ranks are
    # integers, so the fused double is bit-identical cross-engine.
    from iowa_liquor_sales_spark.operators.similarity import (
        ann_sq8_topk,
        brute_force_topk,
    )

    emb = read_table(spark, sf, "embeddings")
    n = emb.count()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cos = brute_force_topk(emb, qvec, k=n, exclude_ids=[0]).select(
        "vec_id", F.col("rnk").alias("r_cos")
    )
    sq8 = ann_sq8_topk(emb, query_id=0, k=n).select(
        "vec_id", F.col("rnk").alias("r_sq8")
    )
    fused = cos.join(sq8, "vec_id").select(
        "vec_id",
        "r_cos",
        "r_sq8",
        (
            1.0 / (60.0 + F.col("r_cos")) + 1.0 / (60.0 + F.col("r_sq8"))
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("vec_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
        .select(
            "vec_id", "r_cos", "r_sq8", floor_scaled(F.col("rrf"), 9, "rrf_ppb"), "rnk"
        )
    )


def q_variant(spark: SparkSession, sf: str) -> DataFrame:
    # Spark 4 VariantType: parse_json once into the binary semi-structured
    # encoding, then typed variant_get extraction — the modern alternative
    # to per-field string JSON functions (shredding-friendly at scale).
    ev = read_table(spark, sf, "events")
    parsed = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type", F.variant_get("v", "$.k", "int").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("int").alias("max_k"),
    )


def q_collation(spark: SparkSession, sf: str) -> DataFrame:
    # Spark 4 collations: case-insensitive grouping via UNICODE_CI —
    # deterministic case-mangled input, output key normalized with
    # lower() (the group's representative string is pick-arbitrary).
    c = read_table(spark, sf, "customer")
    mangled = F.when(
        F.col("c_custkey") % 2 == 0, F.initcap(F.lower("c_mktsegment"))
    ).otherwise(F.lower("c_mktsegment"))
    g = c.select(
        F.collate(mangled, "UNICODE_CI").alias("seg"), "c_acctbal"
    ).groupBy("seg")
    return g.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal", 2, "sum_bal"),
    ).select(F.lower(F.col("seg")).cast("string").alias("segment"), "n", "sum_bal")


def q_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    # Market-basket association mining: part pairs co-occurring in one
    # order, with support, confidence and lift. Baskets are tiny (<=7
    # lines), so the within-order pair explode is bounded per key — the
    # self-join is on the order, never all-pairs across the catalog.
    # Integer-grid ppm columns keep the ratios engine-exact.
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    n_orders = read_table(spark, sf, "orders").count()
    items = li.distinct()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    per_part = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_orders_part")
    )
    out = (
        pairs.join(
            per_part.withColumnsRenamed(
                {"l_partkey": "part_a", "n_orders_part": "n_a"}
            ),
            "part_a",
        )
        .join(
            per_part.withColumnsRenamed(
                {"l_partkey": "part_b", "n_orders_part": "n_b"}
            ),
            "part_b",
        )
    )
    ppm = lambda num, den: F.floor(  # noqa: E731
        num.cast("double") * 1_000_000 / den.cast("double") + 0.5
    ).cast("long")
    return out.select(
        "part_a",
        "part_b",
        "n_ab",
        ppm(F.col("n_ab"), F.lit(n_orders)).alias("support_ppm"),
        ppm(F.col("n_ab"), F.col("n_a")).alias("conf_ab_ppm"),
        ppm(
            F.col("n_ab") * F.lit(n_orders), F.col("n_a") * F.col("n_b")
        ).alias("lift_ppm"),
    )


def q_grouped_linreg(spark: SparkSession, sf: str) -> DataFrame:
    # Model-per-group training via Arrow grouped map (applyInPandas):
    # per returnflag, OLS slope/intercept of extendedprice on quantity
    # fit with numpy — the embarrassingly-parallel fit pattern. The fit
    # uses EXACT integer moments (qty units x price cents, int64 sums —
    # order-independent, unlike float mean/BLAS reductions) and a
    # deterministic +-*/ closed form; outputs are floor-scaled BIGINTs.
    # Oracle: the same moment formula in SQL.
    import numpy as np
    import pandas as pd

    li = read_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        q = np.round(pdf["l_quantity"].to_numpy(dtype="float64")).astype(
            "int64"
        )
        pc = np.round(
            pdf["l_extendedprice"].to_numpy(dtype="float64") * 100
        ).astype("int64")
        n = len(q)
        sx, sxx = float(int(q.sum())), float(int((q * q).sum()))
        sy, sxy = float(int(pc.sum())), float(int((q * pc).sum()))
        cs = sxy - sx * sy / n
        denq = sxx - sx * sx / n
        slope_c = cs / denq
        import math

        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "slope_micro": [int(math.floor(slope_c * 10000.0))],
                "intercept_milli": [
                    int(math.floor((sy / n - slope_c * (sx / n)) * 10.0))
                ],
                "n": [n],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        fit, "l_returnflag string, slope_micro long, intercept_milli long, n long"
    )


def q_degree_dist(spark: SparkSession, sf: str) -> DataFrame:
    # Degree distribution of the derived undirected graph (same edges as
    # q_triangles): histogram of vertex degrees — the first graph-shape
    # report, one explode + two aggregates.
    o = read_table(spark, sf, "orders")
    e = (
        o.select(
            F.least(F.col("o_custkey") % 500, F.col("o_orderkey") % 700).alias("lo"),
            F.greatest(F.col("o_custkey") % 500, F.col("o_orderkey") % 700).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("lo", "hi")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


def q_containment(spark: SparkSession, sf: str) -> DataFrame:
    # Asymmetric containment dedup (operators/dedup.containment_pairs):
    # |A∩B| / |inner| catches a document EMBEDDED in a larger one, which
    # symmetric Jaccard under-scores. Same capped inverted-index plan.
    from iowa_liquor_sales_spark.operators.dedup import (
        containment_pairs,
        shingles,
    )

    docs = read_table(spark, sf, "documents")
    cap = max(1, int(0.05 * docs.count()))
    return containment_pairs(
        shingles(docs, "text", "doc_id", n=3),
        min_containment=0.8,
        max_df=cap,
    )


def q_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # One BPE-training merge step: corpus-wide adjacent character-pair
    # counts inside words, top 20 merges. Pure higher-order exprs (one
    # substr lattice per word), one combinable aggregate — the shape of
    # each tokenizer-training iteration at corpus scale.
    d = read_table(spark, sf, "documents")
    word = F.explode(F.split("text", " ")).alias("w")
    toks = d.select(word)
    n = F.length("w")
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        toks.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
        .select("pair", "cnt", "rnk")
    )


def q_multimodal_rms(spark: SparkSession, sf: str) -> DataFrame:
    # Audio-shaped binary processing (multimodal/binary_ops.
    # audio_frame_rms): payload bytes as LE uint16 PCM -> 256-sample
    # frames -> integer-grid RMS. The oracle re-derives the samples from
    # the hex rendering of the same bytes.
    from iowa_liquor_sales_spark.multimodal.binary_ops import (
        attach_payload,
        audio_frame_rms,
    )

    docs = attach_payload(read_table(spark, sf, "documents"))
    return audio_frame_rms(docs)


def q_ppjoin(spark: SparkSession, sf: str) -> DataFrame:
    # Prefix-filtered exact all-pairs Jaccard (operators/dedup.
    # allpairs_jaccard — the Bayardo/PPJoin algorithm): same answers as
    # q_ngram_jaccard with NO frequency cap, candidates pruned by
    # rarest-first prefixes instead. The oracle is the uncapped exact
    # inverted-index join.
    from iowa_liquor_sales_spark.operators.dedup import (
        allpairs_jaccard,
        shingles,
    )

    docs = read_table(spark, sf, "documents")
    return allpairs_jaccard(
        shingles(docs, "text", "doc_id", n=3), min_jaccard=0.5
    )


def q_rolling_slope(spark: SparkSession, sf: str) -> DataFrame:
    # Rolling trend: least-squares slope of daily revenue on the day
    # index over a trailing 30-day RANGE window — aggregate-as-window,
    # one shuffle (the partitionless window runs over the tiny daily
    # relation, not fact rows). Slope from EXACT integer window sums
    # (native regr_slope window accumulators are engine-specific),
    # deterministic double finish, floor-scaled output.
    o = read_table(spark, sf, "orders")
    oc = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("int")
        .alias("epoch_day")
    ).agg(F.sum(oc).alias("cents"))
    w = Window.orderBy("epoch_day").rangeBetween(-29, 0)
    d = daily.select(
        "epoch_day",
        "cents",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("epoch_day").over(w).cast("double").alias("sx"),
        F.sum(F.col("epoch_day").cast("long") * F.col("epoch_day"))
        .over(w)
        .cast("double")
        .alias("sxx"),
        F.sum("cents").over(w).cast("double").alias("sy"),
        F.sum(F.col("epoch_day") * F.col("cents")).over(w).cast("double").alias("sxy"),
        F.count(F.lit(1)).over(w).cast("int").alias("n_days_30d"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return d.select(
        "epoch_day",
        F.col("cents").alias("revenue_cents"),
        F.when(den != 0.0, F.floor(num / den * F.lit(10000.0)).cast("long")).alias(
            "slope_30d_micro"
        ),
        "n_days_30d",
    )


def q_woe_binning(spark: SparkSession, sf: str) -> DataFrame:
    # Weight-of-evidence feature binning (credit-scoring / feature
    # engineering): quantity deciles vs the "returned" outcome —
    # WOE = ln((event_share)/(nonevent_share)) per bin, from exact
    # integer counts (engine-identical), floor-scaled once at the end.
    li = read_table(spark, sf, "lineitem")
    binned = li.select(
        (F.least(F.col("l_quantity").cast("int") - 1, F.lit(49)) / 5)
        .cast("int")
        .alias("qty_bin"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_event"),
    )
    per = binned.groupBy("qty_bin").agg(
        F.sum("is_event").cast("long").alias("n_event"),
        F.sum(1 - F.col("is_event")).cast("long").alias("n_nonevent"),
    )
    tot = per.agg(
        F.sum("n_event").cast("double").alias("tot_e"),
        F.sum("n_nonevent").cast("double").alias("tot_ne"),
    )
    woe = F.log(
        (F.col("n_event") / F.col("tot_e"))
        / (F.col("n_nonevent") / F.col("tot_ne"))
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "qty_bin",
        "n_event",
        "n_nonevent",
        floor_scaled(woe, 6, "woe_micro"),
    )


def q_benford(spark: SparkSession, sf: str) -> DataFrame:
    # Benford first-digit audit of order totals: observed counts per
    # leading digit + the chi-square statistic against Benford's law.
    # Leading digit from exact integer cents (no float log10 at
    # power-of-ten boundaries): the digit of n is n // 10^(len-1) on its
    # decimal rendering.
    # Transcendental-free determinism: log10(1 + 1/d) over the 9-digit
    # domain is precomputed in Python and injected as IDENTICAL double
    # literals into both engines (libm log10 is not guaranteed correctly
    # rounded and may differ per build); outputs floor-scaled BIGINTs.
    o = read_table(spark, sf, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    per = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = per.agg(F.sum("n").cast("double").alias("tot"))
    expected = F.expr(_BENFORD_CASE)
    dev = F.col("n") - F.col("tot") * expected
    chi_term = dev * dev / (F.col("tot") * expected)
    return per.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        floor_scaled(F.col("n") / F.col("tot"), 6, "obs_share_ppm"),
        floor_scaled(expected, 6, "benford_share_ppm"),
        floor_scaled(chi_term, 6, "chi2_term_micro"),
    )


def q_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    # Two-sample Welch t statistic between returned (R) and accepted (A)
    # line items' extended prices — the A/B-test primitive from exact
    # integer-cent moments (one combinable aggregate per group), finished
    # by a deterministic +-*/sqrt formula and floor-scaled BIGINT outputs.
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    per = (
        li.select("l_returnflag", pc.alias("pc"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            xsum("pc", "s_"),
            xsum(F.col("pc") * F.col("pc"), "ss_"),
        )
        .select(
            "l_returnflag",
            "n",
            (det_double("s_") / F.col("n")).alias("m"),
            (
                (det_double("ss_") - det_double("s_") * det_double("s_") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("v"),
        )
    )
    a = per.filter(F.col("l_returnflag") == "R").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    b = per.filter(F.col("l_returnflag") == "A").select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    j = a.crossJoin(b)
    r1 = F.col("v1") / F.col("n1")
    r2 = F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(r1 + r2)
    dof = ((r1 + r2) * (r1 + r2)) / (
        r1 * r1 / (F.col("n1") - 1) + r2 * r2 / (F.col("n2") - 1)
    )
    return j.select(
        F.col("n1").cast("long").alias("n_ret"),
        F.col("n2").cast("long").alias("n_acc"),
        floor_scaled((F.col("m1") - F.col("m2")) / 100, 3, "mean_diff_milli"),
        floor_scaled(t, 6, "t_stat_micro"),
        floor_scaled(dof, 3, "welch_dof_milli"),
    )


def q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Population stability index between two order-date halves — the
    # standard production drift alarm: PSI = sum (p2-p1)·ln(p2/p1) over
    # price-magnitude bins, from exact integer counts per period.
    o = read_table(spark, sf, "orders")
    binned = o.select(
        F.floor(F.log10("o_totalprice")).cast("int").alias("mag_bin"),
        (F.year("o_orderdate") >= 1997).cast("int").alias("period"),
    )
    per = binned.groupBy("mag_bin").agg(
        F.sum(1 - F.col("period")).cast("long").alias("n1"),
        F.sum("period").cast("long").alias("n2"),
    )
    tot = per.agg(
        F.sum("n1").cast("double").alias("t1"),
        F.sum("n2").cast("double").alias("t2"),
    )
    p1 = F.col("n1") / F.col("t1")
    p2 = F.col("n2") / F.col("t2")
    # Explicit NULL when a bin is empty on either side: Spark's ln()
    # returns NULL at 0 where other engines produce -inf — pin one
    # convention in both (production PSI smooths these bins anyway).
    term = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0),
        F.floor(((p2 - p1) * F.log(p2 / p1)) * F.lit(1000000.0)).cast("long"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "mag_bin",
        "n1",
        "n2",
        term.alias("psi_term_micro"),
    )


def q_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    # Mutual information between the quantity decile and the return
    # outcome (feature-relevance screening): MI = sum p(x,y)·ln(p(x,y) /
    # (p(x)p(y))) — all shares from exact integer counts, identical in
    # both engines; emitted per cell so the driver checks every term.
    li = read_table(spark, sf, "lineitem")
    cells = li.select(
        (F.least(F.col("l_quantity").cast("int") - 1, F.lit(49)) / 5)
        .cast("int")
        .alias("qty_bin"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    joint = cells.groupBy("qty_bin", "y").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    px = cells.groupBy("qty_bin").agg(F.count(F.lit(1)).alias("n_x"))
    py = cells.groupBy("y").agg(F.count(F.lit(1)).alias("n_y"))
    tot = cells.agg(F.count(F.lit(1)).cast("double").alias("n"))
    j = (
        joint.join(px, "qty_bin")
        .join(py, "y")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = (F.col("n_xy") / F.col("n")) * F.log(
        (F.col("n_xy") / F.col("n"))
        / ((F.col("n_x") / F.col("n")) * (F.col("n_y") / F.col("n")))
    )
    return j.select(
        "qty_bin",
        "y",
        F.col("n_xy").cast("long").alias("n_xy"),
        floor_scaled(mi_term, 9, "mi_term_ppb"),
    )


def q_kaplan_meier(spark: SparkSession, sf: str) -> DataFrame:
    # Kaplan-Meier survival of shipping delay (days from order to ship),
    # administratively censored at 45 days — time-to-event analysis from
    # one join + one tiny ordered window: risk sets and the product-form
    # estimator reported as log-survival. Censoring guarantees every
    # factor is strictly positive. Each per-row log factor floor-scales
    # to an integer (pico) BEFORE the cumulative window sum, so the
    # running total is an exact integer sum — engines are free to
    # associate window accumulation differently (segment tree vs
    # sequential) without changing a single output bit.
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    dur = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    obs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.least(dur, F.lit(45)).alias("t"),
            (dur <= 45).cast("int").alias("e"),
        )
    )
    grp = obs.groupBy("t").agg(
        F.sum("e").cast("long").alias("d"),
        F.sum(1 - F.col("e")).cast("long").alias("c"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum_removed = F.sum(F.col("d") + F.col("c")).over(w)
    tot = grp.agg(F.sum(F.col("d") + F.col("c")).alias("N"))
    staged = grp.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk", F.col("N") - (cum_removed - (F.col("d") + F.col("c")))
    )
    term_pico = F.floor(
        F.log(1.0 - F.col("d") / F.col("n_at_risk")) * F.lit(1e12)
    ).cast("long")
    return staged.withColumn("tp", term_pico).select(
        "t",
        "d",
        "c",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.sum("tp").over(w).cast("long").alias("logsurv_pico"),
    )


def q_hll_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # Set-overlap WITHOUT a join (operators/sketches.hll_overlap): how
    # many customers are active in BOTH the 1995-96 and 1997-98 cohorts,
    # estimated from two O(2^p)-row register tables and their max-merge —
    # inclusion-exclusion |A∩B| = est(A)+est(B)-est(A∪B). Neither input
    # ever shuffles against the other; the oracle reproduces every
    # register bit.
    from iowa_liquor_sales_spark.operators.sketches import hll_overlap

    o = read_table(spark, sf, "orders")
    early = o.filter(F.year("o_orderdate") <= 1996)
    late = o.filter(F.year("o_orderdate") >= 1997)
    return hll_overlap(early, "o_custkey", late, "o_custkey", p=8)


def q_poisson_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    # Ops-monitoring anomaly screen: daily event counts vs the global
    # Poisson rate — flag days beyond 3*sqrt(mean). Counts and the N·30
    # cross-multiplied comparison stay integer-exact; only the reported
    # z-score divides. One aggregate + one broadcast join of a 1-row
    # total: O(days) state at any scale.
    ev = read_table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = daily.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    mean = F.col("total").cast("double") / F.col("n_days").cast("double")
    z = (F.col("n") - mean) / F.sqrt(mean)
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            F.col("n").cast("long").alias("n"),
            floor_scaled(mean, 4, "mean_rate_cmilli"),
            floor_scaled(z, 4, "z_cmilli"),
            (F.abs(z) > 3).alias("is_anomaly"),
        )
    )


def q_pareto_point(spark: SparkSession, sf: str) -> DataFrame:
    # The 80/20 readout: how many top customers cover 80% of revenue.
    # Customers rank by exact revenue cents DESC via the distributed
    # global row_number; the cut 5·cum >= 4·total is all-integer, so the
    # answer is bit-portable. Output: the cut rank, its share of
    # customers, and the exact cumulative cents at the cut.
    from iowa_liquor_sales_spark.operators.ranking import global_row_number

    o = read_table(spark, sf, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("rev_cents")
    ).select(
        (-F.col("rev_cents")).alias("neg_rev"), "o_custkey", "rev_cents"
    )
    ranked = global_row_number(per, ["neg_rev", "o_custkey"], out_col="i")
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "i", "rev_cents", F.sum("rev_cents").over(w).alias("cum")
    )
    tot = cum.agg(
        F.max("cum").alias("total"), F.max("i").alias("n_cust")
    )
    hit = (
        cum.crossJoin(F.broadcast(tot))
        .filter(5 * F.col("cum") >= 4 * F.col("total"))
        .agg(
            F.min("i").alias("k"),
            F.max("n_cust").alias("n_cust"),
            F.max("total").alias("total"),
        )
    )
    return hit.select(
        F.col("k").cast("long").alias("customers_for_80pct"),
        F.col("n_cust").cast("long").alias("n_customers"),
        floor_scaled(
            F.col("k").cast("double") / F.col("n_cust").cast("double"),
            6,
            "customer_share_ppm",
        ),
        F.col("total").cast("long").alias("total_cents"),
    )


def q_runs_test(spark: SparkSession, sf: str) -> DataFrame:
    # Wald-Wolfowitz runs test for randomness of the monthly-revenue
    # sign sequence around its exact median: run count from a lag window
    # over the bounded month series, z from the closed form — the
    # nonparametric "is this trend or noise" screen. All counts integer;
    # two final divisions.
    o = read_table(spark, sf, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents")
    )
    med = monthly.agg(F.percentile("cents", F.lit(0.5)).alias("med"))
    signed = (
        monthly.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("med"))
        .select(
            "month", (F.col("cents") > F.col("med")).cast("int").alias("s")
        )
    )
    w = Window.orderBy("month")
    runs = signed.withColumn("prev", F.lag("s").over(w)).agg(
        F.sum(
            (F.col("prev").isNull() | (F.col("s") != F.col("prev"))).cast(
                "int"
            )
        ).alias("r"),
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    mu = 2 * n1d * n2d / nd + 1
    var = (mu - 1) * (mu - 2) / (nd - 1)
    return runs.select(
        F.col("r").cast("long").alias("n_runs"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        floor_scaled(mu, 6, "expected_runs_micro"),
        floor_scaled((F.col("r") - mu) / F.sqrt(var), 6, "z_micro"),
    )


def q_abtest_srm(spark: SparkSession, sf: str) -> DataFrame:
    # Sample-ratio-mismatch check for the hash splitter (q_split_assign's
    # 80/10/10 contract): observed split counts vs expected shares,
    # chi-square terms from exact integer counts — the experimentation
    # health check that catches a broken bucketing hash before any
    # downstream metric does.
    from iowa_liquor_sales_spark.functions.hashing import hash60

    d = read_table(spark, sf, "documents")
    bucket = (
        hash60(F.concat(F.lit("split"), F.col("doc_id").cast("string")))
        % 10000
    )
    split = (
        F.when(bucket < 8000, "train")
        .when(bucket < 9000, "val")
        .otherwise("test")
    )
    counts = d.select(split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").cast("double").alias("nn"))
    share = (
        F.when(F.col("split") == "train", 0.8)
        .when(F.col("split") == "val", 0.1)
        .otherwise(0.1)
    )
    exp = F.col("nn") * share
    dev = F.col("n") - exp
    return counts.crossJoin(F.broadcast(tot)).select(
        "split",
        F.col("n").cast("long").alias("n"),
        floor_scaled(exp, 2, "expected_centi"),
        floor_scaled(dev * dev / exp, 6, "chi2_term_micro"),
    )


def q_source_similarity(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-level source-similarity matrix: exact vocabulary Jaccard
    # between every source pair via the inverted (word -> source) index —
    # one distinct-pass plus an equi-self-join on word, O(shared-vocab)
    # candidates, never document-level all-pairs.
    d = read_table(spark, sf, "documents")
    vocab = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 1).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(
            sizes.select(F.col("source").alias("src_a"), F.col("nv").alias("na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("nv").alias("nb")),
            "src_b",
        )
    )
    return j.select(
        "src_a",
        "src_b",
        F.col("inter").cast("long").alias("inter"),
        floor_scaled(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
            6,
            "vocab_jaccard_ppm",
        ),
    )


def q_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    # Two-sample Kolmogorov-Smirnov D between returned (R) and accepted
    # (A) price distributions: per distinct cents value the two empirical
    # CDFs from cumulative integer counts, D = max gap (argmax ties break
    # to the lowest value). Everything until the two final divisions is
    # exact integers.
    li = (
        read_table(spark, sf, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "A"))
        .select(
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
            (F.col("l_returnflag") == "R").cast("long").alias("is_r"),
        )
    )
    per = li.groupBy("cents").agg(
        F.sum("is_r").alias("c1"),
        F.sum(1 - F.col("is_r")).alias("c2"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.sum("c2").cast("double").alias("n2"),
    )
    cum = per.select(
        "cents",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(F.col("f1") / F.col("n1") - F.col("f2") / F.col("n2"))
    best = (
        cum.withColumn("gap", gap)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("gap").desc(), F.col("cents"))
            ),
        )
        .filter(F.col("r") == 1)
    )
    return best.select(
        F.col("n1").cast("long").alias("n_ret"),
        F.col("n2").cast("long").alias("n_acc"),
        F.col("cents").alias("argmax_cents"),
        floor_scaled(F.col("gap"), 6, "ks_d_ppm"),
    )


def q_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    # 3-round BFS hop distances from vertex 0 (operators/graph.bfs_hops)
    # over the q_triangles-derived graph: per round one frontier⋈edges
    # equi-join + a min-aggregate; distances only shrink, so the result
    # is partitioning-independent and SQL-mirrorable as chained CTEs.
    from iowa_liquor_sales_spark.operators.graph import bfs_hops

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        ((F.col("o_orderkey") % 700)).alias("dst"),
    )
    return bfs_hops(edges, source=0, rounds=3)


def q_udtf_sentences(spark: SparkSession, sf: str) -> DataFrame:
    # Python UDTF surface (Spark 3.5+): a table function exploding each
    # document into trimmed sentences with positions and word counts,
    # invoked through SQL LATERAL. Row-path Python is the API DEMO here —
    # the engine's hot text paths stay in Catalyst (q_chunk_documents,
    # q_token_count); a UDTF is the escape hatch for logic that truly
    # needs per-row Python with table-valued output.
    from pyspark.sql.functions import udtf

    # useArrow=True (Spark 4): rows cross the Python boundary in Arrow
    # batches instead of pickled one-at-a-time — even the demo path is
    # vectorized on the wire.
    @udtf(returnType="pos int, sentence string, n_words int", useArrow=True)
    class SplitSentences:
        def eval(self, text):
            if text is None:
                return
            import re

            parts = [
                p.strip() for p in re.split(r"[.!?]", text) if p.strip()
            ]
            for i, p in enumerate(parts):
                yield i, p, len([w for w in p.split(" ") if w])

    spark.udtf.register("split_sentences", SplitSentences)
    read_table(spark, sf, "documents").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        "SELECT doc_id, s.pos, s.sentence, s.n_words "
        "FROM udtf_docs_v, LATERAL split_sentences(text) s"
    )


def q_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    # Correlated LATERAL subquery surface: top-2 customers by balance per
    # nation, written the way an analyst writes it. Catalyst rewrites the
    # correlated limit into the same win­dow/top-k shape as q_topk_pergroup
    # — the declarative form costs nothing extra.
    read_table(spark, sf, "nation").createOrReplaceTempView("lat_nation_v")
    read_table(spark, sf, "customer").createOrReplaceTempView(
        "lat_customer_v"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        FROM lat_nation_v n,
        LATERAL (
          SELECT c_name, c_acctbal FROM lat_customer_v
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) c
        """
    )


def q_holt_forecast(spark: SparkSession, sf: str) -> DataFrame:
    # Holt's linear-trend double exponential smoothing — the recursion
    # window functions can't express (each level depends on the smoothed
    # PREVIOUS level). Spark-first answer: collapse the fact table to the
    # bounded monthly series, then run the recursion as ONE sequential
    # higher-order fold (F.aggregate) over the ordered array — the fold
    # order is defined, so results are bit-identical on any partitioning
    # and in the oracle's list_reduce. alpha=0.5, beta=0.3; init l=x1,
    # b=0; forecast h = level + h*trend.
    o = read_table(spark, sf, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents")
    )
    series = monthly.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("month", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("xs")
    )
    # Accumulator is a 2-element [level, trend] array, not a struct:
    # DuckDB 1.0's list_reduce mis-evaluates struct accumulators whose
    # fields share subexpressions (verified: [100,120,140,160] folds to
    # the wrong trend) — the array encoding folds correctly and the
    # arithmetic is identical.
    zero = F.array(F.element_at("xs", 1), F.lit(0.0))
    al = lambda acc: F.element_at(acc, 1)
    ab = lambda acc: F.element_at(acc, 2)
    l_new = lambda acc, e: 0.5 * e + 0.5 * (al(acc) + ab(acc))
    folded = series.select(
        F.size("xs").alias("n"),
        F.aggregate(
            F.slice("xs", 2, F.size("xs") - 1),
            zero,
            lambda acc, e: F.array(
                l_new(acc, e),
                0.3 * (l_new(acc, e) - al(acc)) + 0.7 * ab(acc),
            ),
        ).alias("hw"),
    )
    lvl = F.element_at("hw", 1)
    trd = F.element_at("hw", 2)
    return folded.select(
        F.col("n").cast("int").alias("n_months"),
        floor_scaled(lvl, 2, "level_ccents"),
        floor_scaled(trd, 2, "trend_ccents"),
        floor_scaled(lvl + 1 * trd, 2, "f1_ccents"),
        floor_scaled(lvl + 2 * trd, 2, "f2_ccents"),
        floor_scaled(lvl + 3 * trd, 2, "f3_ccents"),
    )


def q_grid_density(spark: SparkSession, sf: str) -> DataFrame:
    # Grid-density clustering (the scalable DBSCAN skeleton): bucket the
    # first two embedding dims into integer grid cells, keep cells with
    # >= min_pts points, connect dense cells through their 3x3
    # neighborhood via an EXPLODE-9-OFFSETS equi-join (never a theta
    # join), and run distributed connected components over the
    # cell graph (operators/graph). Points in sparse cells are noise.
    # Cell count is bounded by the grid, not the corpus — the component
    # step runs on O(dense cells) rows at any scale.
    from iowa_liquor_sales_spark.operators.graph import connected_components

    e = read_table(spark, sf, "embeddings")
    xe = lambda i: F.floor(
        F.element_at("embedding", i).cast("double") * 1e6 + 0.5
    ).cast("long")
    pts = e.select(
        "vec_id",
        F.floor(xe(1) / 50000.0).cast("long").alias("gx"),
        F.floor(xe(2) / 50000.0).cast("long").alias("gy"),
    )
    cells = pts.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
    dense = cells.filter(F.col("n") >= 4).withColumn(
        "cell_id", F.col("gx") * 100000 + F.col("gy")
    )
    probe = (
        dense.select("cell_id", "gx", "gy")
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .filter((F.col("dx") != 0) | (F.col("dy") != 0))
        .select(
            F.col("cell_id").alias("id_a"),
            (F.col("gx") + F.col("dx")).alias("gx"),
            (F.col("gy") + F.col("dy")).alias("gy"),
        )
    )
    edges = (
        probe.join(dense.select("gx", "gy", F.col("cell_id").alias("id_b")),
                   ["gx", "gy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    cc = connected_components(edges).select(
        F.col("node").alias("cell_id"), "component"
    )
    labeled = (
        pts.withColumn("cell_id", F.col("gx") * 100000 + F.col("gy"))
        .join(dense.select("cell_id"), "cell_id", "left_semi")
        .join(cc, "cell_id", "left")
        .withColumn("cluster_id", F.coalesce("component", "cell_id"))
    )
    clusters = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.countDistinct("cell_id").cast("long").alias("n_cells"),
    )
    noise = (
        pts.withColumn("cell_id", F.col("gx") * 100000 + F.col("gy"))
        .join(dense.select("cell_id"), "cell_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .select(
            F.lit(-1).cast("long").alias("cluster_id"),
            "n_points",
            F.lit(0).cast("long").alias("n_cells"),
        )
    )
    return clusters.unionByName(noise)


def q_linkage_score(spark: SparkSession, sf: str) -> DataFrame:
    # Fellegi-Sunter record-linkage scoring over the sorted-neighborhood
    # candidates: each field comparison (language, source, length-within-
    # 10%, key edit distance <= 4) contributes its log(m/u) agreement or
    # log((1-m)/(1-u)) disagreement weight; the pair score is the sum.
    # Candidates come from blocking (O(N·w)), never all-pairs; weights
    # are literal constants so scores are bit-portable.
    from iowa_liquor_sales_spark.operators.dedup import (
        normalize_text,
        sorted_neighborhood_pairs,
    )

    d = read_table(spark, sf, "documents")
    pairs = sorted_neighborhood_pairs(
        d, "text", "doc_id", window=4, key_chars=24, max_edit=24
    )
    attrs = d.select(
        F.col("doc_id"),
        "lang",
        "source",
        "n_chars",
    )
    j = (
        pairs.join(
            attrs.select(
                F.col("doc_id").alias("id_a"),
                F.col("lang").alias("lang_a"),
                F.col("source").alias("src_a"),
                F.col("n_chars").alias("len_a"),
            ),
            "id_a",
        )
        .join(
            attrs.select(
                F.col("doc_id").alias("id_b"),
                F.col("lang").alias("lang_b"),
                F.col("source").alias("src_b"),
                F.col("n_chars").alias("len_b"),
            ),
            "id_b",
        )
    )
    import math

    def w(m, u):
        return math.log(m / u), math.log((1 - m) / (1 - u))

    w_lang, w_lang_d = w(0.95, 0.30)
    w_src, w_src_d = w(0.80, 0.25)
    w_len, w_len_d = w(0.90, 0.20)
    w_key, w_key_d = w(0.85, 0.10)
    agree_lang = (F.col("lang_a") == F.col("lang_b")).cast("int")
    agree_src = (F.col("src_a") == F.col("src_b")).cast("int")
    agree_len = (
        F.abs(F.col("len_a") - F.col("len_b")) * 10
        <= F.least("len_a", "len_b")
    ).cast("int")
    agree_key = (F.col("edit_distance") <= 4).cast("int")
    score = (
        F.when(agree_lang == 1, F.lit(w_lang)).otherwise(F.lit(w_lang_d))
        + F.when(agree_src == 1, F.lit(w_src)).otherwise(F.lit(w_src_d))
        + F.when(agree_len == 1, F.lit(w_len)).otherwise(F.lit(w_len_d))
        + F.when(agree_key == 1, F.lit(w_key)).otherwise(F.lit(w_key_d))
    )
    return j.select(
        "id_a",
        "id_b",
        agree_lang.alias("m_lang"),
        agree_src.alias("m_src"),
        agree_len.alias("m_len"),
        agree_key.alias("m_key"),
        floor_scaled(score, 6, "fs_score_micro"),
    ).filter(F.col("fs_score_micro") > 0)


def q_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    # Classical decomposition of monthly revenue: centered 12-month
    # moving-average trend (full windows only) + month-of-year seasonal
    # index from the detrended residuals. The raw fact table collapses to
    # O(months) rows FIRST (map-combinable exact-cents aggregate), so the
    # ordered windows run over a bounded series — months don't grow with
    # corpus size, only history length.
    o = read_table(spark, sf, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents")
    )
    # All aggregation stays in exact integers: the 12-month sum s12 is a
    # BIGINT, trend = s12/12 is ONE division of an exact int, and the
    # seasonal index averages the SCALED residual 12·cents − s12 (exact
    # BIGINT) with a single final division — no order-dependent float
    # accumulation anywhere (1/12 is not binary-representable).
    w = Window.orderBy("month")
    wma = w.rowsBetween(-6, 5)
    staged = monthly.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_tot", F.count(F.lit(1)).over(Window.partitionBy())
    )
    trended = staged.withColumn(
        "s12",
        F.when(
            (F.col("rn") >= 7) & (F.col("rn") <= F.col("n_tot") - 5),
            F.sum("cents").over(wma),
        ),
    )
    seasonal = (
        trended.filter(F.col("s12").isNotNull())
        .groupBy(F.month("month").alias("moy"))
        .agg(
            F.sum(12 * F.col("cents") - F.col("s12")).alias("ds"),
            F.count(F.lit(1)).alias("nm"),
        )
    )
    return (
        trended.join(seasonal, F.month("month") == seasonal["moy"], "left")
        .select(
            "month",
            "cents",
            floor_scaled(F.col("s12").cast("double") / 12.0, 2, "trend_ccents"),
            floor_scaled(
                F.col("ds").cast("double") / (12.0 * F.col("nm")),
                2,
                "seasonal_idx_ccents",
            ),
        )
    )


def q_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    # Single change-point detection on the monthly revenue series — the
    # CUSUM argmax scaled to stay ALL-INTEGER: argmax_k |n·S_k − k·S_n|
    # (equivalent to the max mean-shift split, no floats until the two
    # segment means at the end). Ties break to the earliest month.
    o = read_table(spark, sf, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents")
    )
    w = Window.orderBy("month")
    cum = monthly.select(
        "month",
        "cents",
        F.row_number().over(w).alias("k"),
        F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "s_k"
        ),
    )
    tot = cum.agg(
        F.max("k").alias("n"), F.max("s_k").alias("s_n")
    )
    scored = cum.crossJoin(F.broadcast(tot)).withColumn(
        "stat",
        F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n")),
    ).filter(F.col("k") < F.col("n"))
    best = scored.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("stat").desc(), F.col("k"))),
    ).filter(F.col("r") == 1)
    return best.select(
        F.col("month").alias("split_month"),
        F.col("k").cast("long").alias("k"),
        floor_scaled(
            F.col("s_k").cast("double") / F.col("k"), 2, "mean_before_ccents"
        ),
        floor_scaled(
            (F.col("s_n") - F.col("s_k")).cast("double")
            / (F.col("n") - F.col("k")),
            2,
            "mean_after_ccents",
        ),
    )


def q_session_paths(spark: SparkSession, sf: str) -> DataFrame:
    # Sequence mining: top-10 opening 3-event paths per (user, day)
    # session — the funnel-shape readout. Per-session windows partition
    # by (user, day) so ordering never globalizes; paths aggregate to
    # O(distinct paths) counted rows, ranked with a deterministic tie
    # break.
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    first3 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    counts = first3.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    return (
        counts.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
            ).cast("int"),
        )
        .filter(F.col("rnk") <= 10)
        .select("path", "n_sessions", "rnk")
    )


def q_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # EXACT distinct counting via Spark's bitmap aggregates — the
    # warehouse-native alternative to COUNT(DISTINCT)'s expand-and-
    # reshuffle: keys map to (bucket, bit) positions, each group packs a
    # fixed 4KB bitmap per bucket (map-side combinable), distinct count =
    # sum of popcounts. State per task is O(buckets-touched), the
    # pre-aggregated bitmaps union across days/partitions for free, and
    # the answer is exact — the oracle is plain COUNT(DISTINCT).
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("k")
    )
    per_bucket = (
        j.selectExpr(
            "seg", "bitmap_bucket_number(k) AS b", "bitmap_bit_position(k) AS p"
        )
        .groupBy("seg", "b")
        .agg(F.expr("bitmap_construct_agg(p)").alias("bm"))
    )
    return per_bucket.groupBy("seg").agg(
        F.expr("sum(bitmap_count(bm))").cast("long").alias("n_distinct")
    )


def q_revenue_spread(spark: SparkSession, sf: str) -> DataFrame:
    # Calendarized revenue recognition: each order's total spreads evenly
    # across the months from order to ship (first lineitem ship month),
    # integer cents with the remainder assigned to the first month — so
    # every monthly figure is an exact integer that reconciles to the
    # order total. One sequence-explode per order (bounded by months
    # spanned), then a month roll-up: O(order-months), map-combinable.
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_trunc("month", "o_orderdate").alias("m0"),
    )
    li = read_table(spark, sf, "lineitem").groupBy("l_orderkey").agg(
        F.date_trunc("month", F.min("l_shipdate")).alias("m1")
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        # the synthetic data has ship months before order months — spread
        # from the EARLIER of the two, like a restated recognition period
        F.least("m0", "m1").alias("lo"),
        F.greatest("m0", "m1").alias("hi"),
    )
    n_months = (
        F.months_between(F.col("hi"), F.col("lo")).cast("long") + 1
    )
    spread = j.select(
        "o_orderkey",
        "cents",
        F.col("lo").alias("m0"),
        n_months.alias("nm"),
        F.explode(F.sequence(F.lit(0), n_months - 1)).alias("i"),
    )
    share = F.col("cents") / F.col("nm")  # exact integer div via floor below
    alloc = F.when(
        F.col("i") == 0,
        F.col("cents") - (F.col("nm") - 1) * F.floor(share).cast("long"),
    ).otherwise(F.floor(share).cast("long"))
    monthly = spread.select(
        F.add_months(F.to_date("m0"), F.col("i").cast("int")).alias("month"),
        alloc.alias("alloc_cents"),
    )
    return monthly.groupBy("month").agg(
        F.sum("alloc_cents").alias("recognized_cents"),
        F.count(F.lit(1)).cast("long").alias("n_order_months"),
    )


def q_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    # BPE ENCODE step to pair with q_bpe_pairs' training step: learn the
    # top-3 initial merges (same count+rank, an O(1) driver fetch — the
    # merge table IS tokenizer state, like a broadcast vocab), then apply
    # them greedily left-to-right to the top-50 words. Tokens separated
    # by double spaces so a merge never consumes a neighbor's separator;
    # plain replace() is left-to-right non-overlapping in both engines.
    d = read_table(spark, sf, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 1
    )
    n = F.length("w")
    pair_arr = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        toks.select(F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    merges = [
        r["pair"]
        for r in counts.withColumn("rnk", F.row_number().over(wm))
        .filter(F.col("rnk") <= 3)
        .orderBy("rnk")
        .collect()
    ]
    words = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("w"))
            ),
        )
        .filter(F.col("rnk") <= 50)
    )
    seq = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ),
        "  ",
    )
    for m in merges:
        seq = F.replace(seq, F.lit(m[0] + "  " + m[1]), F.lit(m))
    enc = words.withColumn("bpe", seq)
    n_tok = (
        (F.length("bpe") - F.length(F.replace("bpe", F.lit("  "), F.lit(""))))
        / 2
        + 1
    )
    return enc.select(
        "w",
        F.col("cnt").cast("long").alias("cnt"),
        "bpe",
        n_tok.cast("int").alias("n_tokens"),
    )


def q_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    # Maximal-marginal-relevance re-rank of a retrieval shortlist
    # (Carbonell & Goldstein '98), equal-weight form: 3 greedy steps of
    # argmax(rel − max sim-to-selected) over the top-8 candidates for
    # query vector 0. Every relevance/similarity is an exact BIGINT dot
    # of e6-integer codes, so the greedy argmax (ties: lowest vec_id) is
    # bit-portable. The shortlist is O(k); each step is a k-row argmax —
    # re-ranking cost never touches the corpus.
    e = read_table(spark, sf, "embeddings")
    comp = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("x").cast("double") * 1e6 + 0.5)
        .cast("long")
        .alias("xe"),
    )
    q = comp.filter(F.col("vec_id") == 0).select(
        "pos", F.col("xe").alias("qe")
    )
    rel = (
        comp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.col("xe") * F.col("qe")).alias("rel"))
    )
    cand = (
        rel.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("rel").desc(), F.col("vec_id"))
            ),
        )
        .filter(F.col("rnk") <= 8)
        .select("vec_id", "rel")
    )
    ccomp = comp.join(
        F.broadcast(cand.select("vec_id")), "vec_id"
    )
    a = ccomp.select(F.col("vec_id").alias("va"), "pos", F.col("xe").alias("ea"))
    b = ccomp.select(F.col("vec_id").alias("vb"), "pos", F.col("xe").alias("eb"))
    sims = (
        a.join(b, "pos")
        .filter(F.col("va") != F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.sum(F.col("ea") * F.col("eb")).alias("sim"))
    )

    def argmax(df, score_col):
        w = Window.orderBy(F.col(score_col).desc(), F.col("vec_id"))
        return (
            df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select(F.col("vec_id").alias("sel"))
        )

    s1 = argmax(cand, "rel")
    rest1 = cand.join(s1, cand["vec_id"] == s1["sel"], "left_anti")
    sc2 = (
        rest1.crossJoin(F.broadcast(s1))
        .join(
            sims,
            (sims["va"] == F.col("vec_id")) & (sims["vb"] == F.col("sel")),
        )
        .select("vec_id", "rel", (F.col("rel") - F.col("sim")).alias("mmr"))
    )
    s2 = argmax(sc2, "mmr")
    sel2 = s1.unionAll(s2)
    rest2 = cand.join(sel2, cand["vec_id"] == sel2["sel"], "left_anti")
    sc3 = (
        rest2.crossJoin(F.broadcast(sel2))
        .join(
            sims,
            (sims["va"] == F.col("vec_id")) & (sims["vb"] == F.col("sel")),
        )
        .groupBy("vec_id", "rel")
        .agg(F.max("sim").alias("max_sim"))
        .select("vec_id", "rel", (F.col("rel") - F.col("max_sim")).alias("mmr"))
    )
    s3 = argmax(sc3, "mmr")
    out = (
        s1.withColumn("step", F.lit(1))
        .unionAll(s2.withColumn("step", F.lit(2)))
        .unionAll(s3.withColumn("step", F.lit(3)))
    )
    return out.select(
        F.col("sel").alias("vec_id"), F.col("step").cast("int").alias("step")
    )


def q_wilson_ctr(spark: SparkSession, sf: str) -> DataFrame:
    # Wilson lower-bound ranking of conversion rates — the standard fix
    # for "sort by raw rate" small-sample lies (Agresti-Coull family).
    # Trials/successes per props.k bucket are exact integers; the bound
    # is one closed-form double expression from those ints (z=1.96
    # literal), identical in both engines.
    # Output is EXACT INTEGER ppm (r3 driver hash-fail was the rounded
    # double). With z = 1.96 = 49/25 exactly, scaling the closed form by
    # 2500 makes every coefficient an integer:
    #   lb = [n*(2500*s + 4802) - sqrt(R)] / (n*(2500*n + 9604))
    #   R  = 24010000*s*(n-s)*n + 4802^2*n^2        (4802^2 = 23059204)
    # floor(sqrt(R)) is computed as an exact INTEGER square root (double
    # sqrt + one-step integer correction — double sqrt of an int64 is off
    # by at most 1 after floor), so wilson_lb_ppm is a pure-integer
    # function of (s, n): bit-identical in any engine, no libm anywhere.
    ev = read_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k_bucket")
    g = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .select(k, (F.col("event_type") == "purchase").cast("long").alias("s"))
        .groupBy("k_bucket")
        .agg(
            F.sum("s").alias("successes"),
            F.count(F.lit(1)).cast("long").alias("trials"),
        )
    )
    n = F.col("trials")
    s = F.col("successes")
    r = g.withColumn(
        "rad",
        F.lit(24010000) * s * (n - s) * n + F.lit(23059204) * n * n,
    ).withColumn(
        "t0", F.floor(F.sqrt(F.col("rad").cast("double"))).cast("long")
    )
    t0 = F.col("t0")
    rad = F.col("rad")
    isq = t0 + (
        F.when((t0 + 1) * (t0 + 1) <= rad, F.lit(1))
        .when(t0 * t0 > rad, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return r.withColumn("isq", isq).select(
        "k_bucket",
        "successes",
        "trials",
        F.expr(
            "(1000000 * (trials * (2500 * successes + 4802) - isq))"
            " div (trials * (2500 * trials + 9604))"
        ).alias("wilson_lb_ppm"),
    )


def q_gini(spark: SparkSession, sf: str) -> DataFrame:
    # Gini coefficient of customer revenue concentration: rank customers
    # by exact revenue cents with the DISTRIBUTED global row_number
    # (operators/ranking — range shuffle + narrow sort, never a
    # one-partition window), then G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n from
    # three exact integer sums and two final divisions.
    from iowa_liquor_sales_spark.operators.ranking import global_row_number

    o = read_table(spark, sf, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("rev_cents")
    )
    ranked = global_row_number(per, ["rev_cents", "o_custkey"], out_col="i")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_cents").alias("sx"),
        F.sum(F.col("i") * F.col("rev_cents")).alias("six"),
    )
    gini = (2 * F.col("six")).cast("double") / (
        F.col("n") * F.col("sx")
    ).cast("double") - (F.col("n") + 1).cast("double") / F.col("n").cast(
        "double"
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        floor_scaled(gini, 9, "gini_ppb"),
    )


def q_chisq_independence(spark: SparkSession, sf: str) -> DataFrame:
    # Chi-square independence test, market segment × order priority:
    # observed cells, margins, and N are exact integer counts; each
    # cell's (obs-exp)^2/exp term is emitted so the driver verifies
    # every term, not just the rolled-up statistic. Margins join back as
    # broadcasts — the contingency table is O(cells), never O(rows).
    o = read_table(spark, sf, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    c = read_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    ).select(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("prio"))
    cells = j.groupBy("seg", "prio").agg(F.count(F.lit(1)).alias("obs"))
    rows = j.groupBy("seg").agg(F.count(F.lit(1)).alias("row_tot"))
    cols = j.groupBy("prio").agg(F.count(F.lit(1)).alias("col_tot"))
    tot = j.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    full = (
        cells.join(rows, "seg")
        .join(cols, "prio")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("nn")
    dev = F.col("obs") - exp
    return full.select(
        "seg",
        "prio",
        F.col("obs").cast("long").alias("obs"),
        floor_scaled(exp, 6, "expected_micro"),
        floor_scaled(dev * dev / exp, 6, "chi2_term_micro"),
    )


def q_mannwhitney(spark: SparkSession, sf: str) -> DataFrame:
    # Mann-Whitney U (rank-sum) between returned (R) and accepted (A)
    # line items — the nonparametric A/B primitive. Tie-averaged ranks
    # from RANK() + (ties-1)/2 over exact integer cents; U and the
    # normal approximation z are closed forms over integer sums. (The
    # global rank window is the oracle-parity form; the distributed
    # rank op q_gini uses is the 100 TB form.)
    li = (
        read_table(spark, sf, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "A"))
        .select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    w_rank = Window.orderBy("cents")
    w_tie = Window.partitionBy("cents")
    # Doubled tie-averaged rank (2*rank + ties-1) is an exact INTEGER, so
    # the rank-sum accumulates as a long — order-independent at any scale
    # (a double half-integer sum passes 2^53 around sf100).
    ranked = li.select(
        "l_returnflag",
        (
            2 * F.rank().over(w_rank).cast("long")
            + (F.count(F.lit(1)).over(w_tie) - 1)
        ).alias("twice_rank"),
    )
    agg = ranked.groupBy().agg(
        F.sum(F.when(F.col("l_returnflag") == "R", F.col("twice_rank"))).alias(
            "r2a"
        ),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("na"),
        F.sum((F.col("l_returnflag") == "A").cast("long")).alias("nb"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    u = u2.cast("double") / 2
    z = (u - na_d * nb_d / 2) / F.sqrt(
        na_d * nb_d * (na_d + nb_d + 1) / 12
    )
    return agg.select(
        F.col("na").cast("long").alias("n_ret"),
        F.col("nb").cast("long").alias("n_acc"),
        u2.cast("long").alias("u_stat_x2"),
        floor_scaled(z, 6, "z_micro"),
    )


def q_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    # Join-size estimation WITHOUT the join (operators/sketches.
    # countmin_join_size): CM inner product min_d Σ_b cntR·cntS over two
    # O(depth·width) sketches — the cost-based-optimizer primitive; true
    # |orders ⋈ lineitem| is bounded above by the estimate.
    from iowa_liquor_sales_spark.operators.sketches import countmin_join_size

    o = read_table(spark, sf, "orders")
    li = read_table(spark, sf, "lineitem")
    return countmin_join_size(
        o, "o_orderkey", li, "l_orderkey", depth=4, width=65536
    )


def q_decile_grid(spark: SparkSession, sf: str) -> DataFrame:
    # Full decile grid (d1..d9) of price cents per return flag via
    # operators/aggregates.exact_group_quantiles: ONE ranking window pass
    # serves all nine PERCENTILE_CONT fractions with all-integer
    # interpolation (outputs are cents x10 BIGINTs — deciles' tenths
    # fractions are not binary-representable, so native float percentile
    # outputs would be engine-build-dependent).
    from iowa_liquor_sales_spark.operators.aggregates import (
        exact_group_quantiles,
    )

    li = read_table(spark, sf, "lineitem")
    return exact_group_quantiles(
        li.select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("pc"),
            "l_orderkey",
            "l_linenumber",
        ),
        "l_returnflag",
        "pc",
        fracs=[(k, 10) for k in range(1, 10)],
        tiebreak=["l_orderkey", "l_linenumber"],
    )


def _decile_oracle() -> str:
    """Replay of exact_group_quantiles over the price-cents deciles —
    generated per fraction so the interpolation arithmetic cannot drift
    from the operator's."""
    los = ",\n                 ".join(
        f"MAX(CASE WHEN rn = {k} * (n - 1) // 10 + 1 THEN v END)"
        f" AS lo{k},\n                 "
        f"MAX(CASE WHEN rn = {k} * (n - 1) // 10 + 2 THEN v END)"
        f" AS hi{k}"
        for k in range(1, 10)
    )
    conds = " OR ".join(
        f"rn = {k} * (n - 1) // 10 + 1 OR rn = {k} * (n - 1) // 10 + 2"
        for k in range(1, 10)
    )
    outs = ",\n               ".join(
        f"CAST((10 - {k} * (n - 1) % 10) * lo{k}"
        f" + ({k} * (n - 1) % 10) * COALESCE(hi{k}, 0) AS BIGINT)"
        f" AS q{k}_10_x10"
        for k in range(1, 10)
    )
    return f"""
        WITH s AS (
          SELECT l_returnflag AS g,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                 row_number() OVER (PARTITION BY l_returnflag
                     ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                              l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem),
        m AS (SELECT g, MIN(n) AS n,
                 {los}
              FROM s WHERE {conds}
              GROUP BY g)
        SELECT g AS l_returnflag,
               {outs}
        FROM m"""


def q_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    # Quantity-weighted median price per return flag: cumulative-weight
    # window ordered by (price, unique key), pick the least price whose
    # doubled cumulative weight reaches the group total. All weights are
    # exact integers, so the 2·cum >= tot cut is engine-portable. At
    # 100 TB the same cut runs as a two-pass quantile-of-cum-weights
    # instead of a per-group sort; the cut predicate is unchanged.
    li = read_table(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wspec = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("l_returnflag")
    staged = li.withColumn("cum", F.sum("w").over(wspec)).withColumn(
        "tot", F.sum("w").over(tot)
    )
    return (
        staged.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice") * 100)
            .cast("long")
            .alias("weighted_median_cents"),
            F.first("tot").cast("long").alias("total_weight"),
        )
    )


def q_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    # Golden-record survivorship (record-linkage "data fusion"): cluster
    # by normalized content hash, elect the survivor per cluster by
    # (longest text, then highest doc_id) — a deterministic window rank
    # partitioned by cluster, never global — and fuse cluster stats.
    d = read_table(spark, sf, "documents")
    from iowa_liquor_sales_spark.operators.dedup import normalize_text

    base = d.select(
        F.md5(normalize_text("text").cast("binary")).alias("norm_hash"),
        "doc_id",
        "n_chars",
        "source",
    )
    w = Window.partitionBy("norm_hash").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").desc()
    )
    surv = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "norm_hash",
            F.col("doc_id").alias("survivor_id"),
            F.col("n_chars").alias("survivor_len"),
        )
    )
    stats = base.groupBy("norm_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return surv.join(stats, "norm_hash")


def q_grouping_id(spark: SparkSession, sf: str) -> DataFrame:
    # GROUPING()/grouping-id surface over a CUBE: which aggregation level
    # produced each row, encoded portably as grouping(seg)*2 +
    # grouping(region) (engines disagree on native grouping_id bit
    # order, so the id is built from per-column grouping() bits).
    c = read_table(spark, sf, "customer")
    g = c.select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_nationkey") % 5).alias("ngrp"),
        "c_acctbal",
    )
    return (
        g.cube("seg", "ngrp")
        .agg(
            (F.grouping("seg") * 2 + F.grouping("ngrp"))
            .cast("int")
            .alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                "bal_cents"
            ),
        )
        .select("seg", "ngrp", "gid", "n", "bal_cents")
    )


def q_centroid_matrix(spark: SparkSession, sf: str) -> DataFrame:
    # Pairwise cosine between label centroids — the confusion-structure
    # readout after clustering/labeling. Cosine is scale-invariant, so
    # centroids enter as their per-dim e6-integer SUMS (the mean's n
    # cancels): every dot/norm is an exact BIGINT and the only float op
    # is one final division — bit-identical on any partitioning. The
    # k²·dim join is over centroid rows (k·dim), independent of corpus
    # size.
    e = read_table(spark, sf, "embeddings")
    comp = e.select(
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * 1e6 + 0.5)
        .cast("long")
        .alias("x_e6"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.sum("x_e6").alias("s")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb")
    )
    pairs = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb2"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return pairs.select(
        "label_a", "label_b", floor_scaled(cos, 6, "cosine_ppm")
    )


def q_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    # Max-concurrent-intervals per day — the classic sweep-line: each
    # event opens a 5-minute interval; +1/-1 boundary rows, a per-day
    # ordered running sum, and the day's max is the peak concurrency.
    # Partitioned by day so no global sort exists at any scale; ties on
    # boundary timestamps resolve ends-before-starts (delta ASC) in both
    # engines.
    ev = read_table(spark, sf, "events")
    bounds = ev.select(
        F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        ev.select(
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    day = F.to_date("t").alias("day")
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = bounds.select(day, "t", "delta").withColumn(
        "load", F.sum("delta").over(w)
    )
    return running.groupBy("day").agg(
        F.max("load").cast("long").alias("peak_concurrency"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_started"),
    )


def q_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    # Next-event Markov transition counts per user stream: lead() over the
    # (ts, event_id)-ordered per-user window pairs each event with its
    # successor; global counts + per-source transition share. The window
    # partitions by user — scales with users, never a global sort; shares
    # are exact-integer ratios rounded identically in both engines.
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("src_event"),
            F.col("nxt").alias("dst_event"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_src = Window.partitionBy("src_event")
    return pairs.select(
        "src_event",
        "dst_event",
        F.col("n").cast("long").alias("n"),
        floor_scaled(
            F.col("n") / F.sum("n").over(w_src), 6, "p_transition_ppm"
        ),
    )


def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # Banded SimHash near-dup pairing (operators/dedup.simhash_hamming_pairs):
    # the Manku-et-al candidate step over the q_simhash fingerprints —
    # 4 blocks of 15 bits, equi-join on (band, block), xor+popcount verify
    # at Hamming <= 3. Pigeonhole makes recall exact at this radius.
    from iowa_liquor_sales_spark.operators.dedup import simhash_hamming_pairs

    d = read_table(spark, sf, "documents")
    return simhash_hamming_pairs(
        d, "text", "doc_id", bits=60, bands=4, max_hamming=3
    )


def q_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    # Sorted-neighborhood blocking (operators/dedup.sorted_neighborhood_pairs):
    # one distributed range-sort by the normalized 24-char key, then each
    # record meets only its 4 sort-successors — O(N*w) candidates with a
    # Levenshtein verify, the predictable-cost complement to LSH.
    from iowa_liquor_sales_spark.operators.dedup import sorted_neighborhood_pairs

    d = read_table(spark, sf, "documents")
    return sorted_neighborhood_pairs(
        d, "text", "doc_id", window=4, key_chars=24, max_edit=8
    )


def q_kcore(spark: SparkSession, sf: str) -> DataFrame:
    # 3-round k-core peel (operators/graph.kcore) of the same derived
    # graph as q_triangles: drop vertices of degree < k with their edges,
    # three times; emit surviving vertices + remaining degree. Each round
    # is a degree aggregate + two semi-joins — O(E), SQL-mirrorable.
    from iowa_liquor_sales_spark.operators.graph import kcore

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        ((F.col("o_orderkey") % 700)).alias("dst"),
    )
    return kcore(edges, k=24, rounds=3)


def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    # RFM segmentation, quantile-threshold form: per-customer recency /
    # frequency / monetary-cents (all exact integers), quintile boundaries
    # from ONE global percentile aggregate broadcast back, scores by
    # threshold comparison — no global NTILE window (single-task sort at
    # scale); cells aggregated so output is <=125 rows.
    o = read_table(spark, sf, "orders")
    per = o.groupBy("o_custkey").agg(
        F.datediff(
            F.to_date(F.lit("1998-12-31")), F.max(F.to_date("o_orderdate"))
        ).alias("recency"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("mon_cents"),
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    thr = per.agg(
        *[
            F.percentile(m, F.lit(q)).alias(f"{m}_q{int(q * 100)}")
            for m in ("recency", "freq", "mon_cents")
            for q in qs
        ]
    )

    def score(m):
        s = F.lit(1)
        for q in qs:
            s = s + (F.col(m) > F.col(f"{m}_q{int(q * 100)}")).cast("int")
        return s

    cells = per.crossJoin(F.broadcast(thr)).select(
        score("recency").alias("r_quintile"),
        score("freq").alias("f_quintile"),
        score("mon_cents").alias("m_quintile"),
        F.col("mon_cents"),
    )
    return cells.groupBy("r_quintile", "f_quintile", "m_quintile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("mon_cents").alias("monetary_cents"),
    )


def q_attribution(spark: SparkSession, sf: str) -> DataFrame:
    # Last-touch marketing attribution over the event stream: each
    # purchase credits the user's most recent preceding click/view (else
    # 'direct'); revenue and conversion counts roll up per channel. One
    # per-user ordered window — partitioned by user_id, so it scales with
    # users, never a global sort.
    ev = read_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    attributed = (
        ev.withColumn("channel", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(F.coalesce("channel", F.lit("direct")).alias("channel"), "value")
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        # Exact integer cents: partition-order independent and hashable.
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )


def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    # Robust outlier screen per return-flag group: exact median +
    # median-absolute-deviation (two percentile aggregates), then count
    # rows beyond 3 robust sigmas (1.4826*MAD). ALL outputs are exact
    # integers — the r3 driver hash-fail was the rounded-double columns.
    # Trick: work in HALF-CENT units (cents2 = 2*cents, always even), so
    # the 0.5-percentile midpoint (lo+hi)/2 of even ints is an exact
    # INTEGER in both engines (doubles < 2^52 → exact binary rationals);
    # the MAD percentile over integer adev2 is k or k+0.5, so 2*MAD
    # (quarter-cent units) is again an exact integer. The 3*1.4826
    # threshold becomes the all-integer compare
    # 20000*adev2 > 44478*mad4  (adev > 4.4478*mad, both sides scaled).
    li = read_table(spark, sf, "lineitem").select(
        "l_returnflag",
        (
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * 2
        ).alias("cents2"),
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("cents2", F.lit(0.5)).cast("long").alias("med2")
    )
    dev = li.join(med, "l_returnflag").withColumn(
        "adev2", F.abs(F.col("cents2") - F.col("med2"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.first("med2").alias("med2"),
        (F.percentile("adev2", F.lit(0.5)) * 2).cast("long").alias("mad4"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    out = dev.join(
        mad.select("l_returnflag", F.col("mad4").alias("mad4_thr")),
        "l_returnflag",
    )
    counts = out.groupBy("l_returnflag").agg(
        F.sum(
            (
                F.lit(20000) * F.col("adev2")
                > F.lit(44478) * F.col("mad4_thr")
            ).cast("int")
        )
        .cast("long")
        .alias("n_outliers")
    )
    return mad.join(counts, "l_returnflag").select(
        "l_returnflag",
        "n",
        F.col("med2").alias("median_halfcents"),
        F.col("mad4").alias("mad_quartercents"),
        "n_outliers",
    )


def q_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q4 shape (order-priority checking): count 1996 orders having
    # at least one LATE line (shipped > 60 days after the order date),
    # grouped by priority. The EXISTS becomes a left-semi join — Spark
    # dedups the many-line side inside the join instead of a distinct,
    # and the 1-year filter prunes the orders scan before the join.
    o = read_table(spark, sf, "orders").filter(
        F.year("o_orderdate") == 1996
    )
    li = read_table(spark, sf, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
    )


def q_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H Q13 shape (customer distribution): histogram of customers by
    # how many orders they placed, INCLUDING zero-order customers — the
    # left outer join + count(non-null key) idiom, then a second
    # aggregate over the per-customer counts. Both aggregates are
    # map-side combinable; the join key is the customer PK.
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


def q_theta_diff(spark: SparkSession, sf: str) -> DataFrame:
    # Theta-sketch A-NOT-B (operators/sketches.theta_anotb_estimate):
    # estimated count of customers who ordered in 1995-1996 but never
    # after — churn measured from two mergeable O(k) sketches alone,
    # never a rescan or an exact anti-join of the inputs.
    from iowa_liquor_sales_spark.operators.sketches import (
        kmv_kmins,
        theta_anotb_estimate,
    )

    o = read_table(spark, sf, "orders")
    early = o.filter(F.year("o_orderdate") <= 1996)
    late = o.filter(F.year("o_orderdate") >= 1997)
    return theta_anotb_estimate(
        kmv_kmins(early, "o_custkey", k=512),
        kmv_kmins(late, "o_custkey", k=512),
        k=512,
    )


def q_naive_bayes(spark: SparkSession, sf: str) -> DataFrame:
    # Multinomial naive-Bayes training stats per document source
    # (operators/text.naive_bayes_token_stats): top-5 token likelihoods
    # + class priors, all in exact integer ppm — the quality-classifier
    # bootstrap a curation pipeline trains before scoring a crawl.
    from iowa_liquor_sales_spark.operators.text import naive_bayes_token_stats

    docs = read_table(spark, sf, "documents")
    return naive_bayes_token_stats(
        docs, class_col="source", text_col="text", top_n=5
    )


def q_interval_merge(spark: SparkSession, sf: str) -> DataFrame:
    # Interval coverage per user (operators/temporal.merge_intervals):
    # each event opens a 30-minute exposure window; overlapping windows
    # merge via the gaps-and-islands running-max — per-user ad-exposure /
    # uptime coverage in exact epoch seconds.
    from iowa_liquor_sales_spark.operators.temporal import merge_intervals

    ev = (
        read_table(spark, sf, "events")
        .select("user_id", epoch_us("ts").alias("us"))
        # integer div of wall-clock micros: timezone-independent and
        # exact (a double divide could round across the truncation edge).
        .select(
            "user_id",
            F.expr("us div 1000000").alias("start_s"),
            F.expr("us div 1000000 + 1800").alias("end_s"),
        )
    )
    merged = merge_intervals(ev, "user_id", "start_s", "end_s")
    return merged.select(
        F.col("key").alias("user_id"),
        F.col("island").cast("long").alias("island"),
        "merge_start",
        "merge_end",
        "n_merged",
        "covered_secs",
    )


def q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    # Interval-overlap join (operators/temporal.interval_join): click
    # exposure windows vs purchase windows per user, met through
    # fixed-width time-bucket equi-join — never the per-key Cartesian
    # theta join the naive SQL form executes. Overlap in exact epoch
    # seconds.
    from iowa_liquor_sales_spark.operators.temporal import interval_join

    ev = (
        read_table(spark, sf, "events")
        .select(
            "user_id", "event_id", "event_type", epoch_us("ts").alias("us")
        )
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("us div 1000000").alias("start_s"),
            F.expr("us div 1000000 + 1800").alias("end_s"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    buys = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    return interval_join(
        clicks, buys, key="user_id", bucket_secs=1800
    ).select("user_id", "event_id_a", "event_id_b", "overlap_secs")


def q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic synchronous label propagation (operators/graph.
    # label_propagation): most-frequent-neighbor-label voting with
    # smallest-label tie-break over the q_kcore-derived graph, 2 fixed
    # rounds so the oracle mirrors each round as a CTE chain.
    from iowa_liquor_sales_spark.operators.graph import label_propagation

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return label_propagation(edges, rounds=2)


def q_sparse_cosine(spark: SparkSession, sf: str) -> DataFrame:
    # Sparse bag-of-words cosine similarity join (operators/text.
    # sparse_cosine_pairs): inverted-index equi-join on the shared term,
    # df-capped posting lists, and an all-integer cos²-ppm score — the
    # TF-vector complement to shingle Jaccard, no sqrt/float anywhere.
    from iowa_liquor_sales_spark.operators.text import sparse_cosine_pairs

    docs = read_table(spark, sf, "documents")
    return sparse_cosine_pairs(
        docs, min_cos2_ppm=250_000, max_df_frac=0.05
    )


def q_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    # Winsorized robust aggregate per return flag: clamp price cents to
    # median ± 3·MAD, then report the clamp rate and the winsorized sum.
    # Exactness: med/mad interpolate on INTEGER cents (exact .0/.5
    # rationals in any engine — see q_mad_outliers), so the clamp bounds
    # sit on the half-cent grid; doubling the clamped values yields exact
    # integers whose long sum is partition-order independent.
    li = read_table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = li.join(med, "l_returnflag").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.first("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
    )
    bounded = li.join(
        mad.select(
            "l_returnflag",
            (F.col("med") - 3 * F.col("mad")).alias("lo"),
            (F.col("med") + 3 * F.col("mad")).alias("hi"),
        ),
        "l_returnflag",
    ).withColumn(
        "clamped2x",
        (
            F.lit(2)
            * F.greatest(
                F.least(F.col("cents").cast("double"), F.col("hi")),
                F.col("lo"),
            )
        ).cast("long"),
    )
    return bounded.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            ((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")))
            .cast("int")
        )
        .cast("long")
        .alias("n_clamped"),
        (F.first("lo") * 2).cast("long").alias("lo_halfcents"),
        (F.first("hi") * 2).cast("long").alias("hi_halfcents"),
        F.sum("clamped2x").alias("winsorized_sum_halfcents"),
    )


def q_mst_boruvka(spark: SparkSession, sf: str) -> DataFrame:
    # Boruvka minimum-spanning-forest rounds (operators/graph.
    # boruvka_mst_rounds) over the derived order graph, edge weight =
    # smallest orderkey seen on the pair. Every chosen edge is MST-safe
    # (cut property) and the (w, lo, hi) total order makes the forest
    # unique; the oracle replays the two rounds + label hops as
    # generated CTEs (_mst_oracle).
    from iowa_liquor_sales_spark.operators.graph import boruvka_mst_rounds

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
        F.col("o_orderkey").alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    # small_v: the derived graph has <= 1200 vertices (moduli 500/700)
    # against an O(|orders|) edge list — V << E, the documented condition
    # for the driver-side label merge (candidate argmin stays distributed).
    return boruvka_mst_rounds(edges, rounds=2, small_v=True)


def q_mst_distributed(spark: SparkSession, sf: str) -> DataFrame:
    # The FULLY DISTRIBUTED Boruvka path (small_v=False — labels, chosen
    # edges and the 2-hop min-label merge all stay DataFrame relations
    # with localCheckpoint per round): the plan that runs when V itself
    # is data-scale, oracle-checked against the same generated CTE
    # replay as q_mst_boruvka. The two variants cross-validate — pytest
    # proves path equivalence (tests/test_graph_convergence.py), and the
    # gate proves each against DuckDB independently.
    from iowa_liquor_sales_spark.operators.graph import boruvka_mst_rounds

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
        F.col("o_orderkey").alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    return boruvka_mst_rounds(edges, rounds=2, small_v=False)


def q_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    # zlib compression-ratio quality signal (operators/curation.
    # compression_ratio). zlib byte counts are genuinely
    # non-SQL-expressible (exact counts stay pytest-pinned,
    # tests/test_curation.py), so the gated projection is the PARTIAL
    # oracle the round-8 verdict asked for: doc_id and the exact utf-8
    # input byte length match DuckDB bit-for-bit, and `zlib_in_bounds`
    # folds the non-SQL outputs into a verifiable invariant — comp_len
    # inside the deflate format's guaranteed envelope (zlib of b'' is 8
    # bytes; stored-block worst case < raw + raw/1000 + 64) AND
    # ratio_ppm exactly comp_len*1e6 DIV max(raw_len,1). The oracle
    # asserts TRUE per row; any zlib misbehavior or ratio drift flips
    # the Spark-side boolean and fails the value hash.
    from iowa_liquor_sales_spark.operators.curation import compression_ratio

    cr = compression_ratio(read_table(spark, sf, "documents"))
    return cr.select(
        "doc_id",
        F.col("raw_len").cast("long").alias("raw_len"),
        (
            (F.col("comp_len") >= F.lit(8))
            & (
                F.col("comp_len").cast("long")
                <= F.col("raw_len").cast("long")
                + F.expr("CAST(raw_len AS BIGINT) DIV 1000")
                + F.lit(64)
            )
            & (
                F.col("ratio_ppm")
                == F.expr(
                    "CAST(comp_len AS BIGINT) * 1000000"
                    " DIV GREATEST(CAST(raw_len AS BIGINT), 1)"
                )
            )
        ).alias("zlib_in_bounds"),
    )


def q_pipe_syntax(spark: SparkSession, sf: str) -> DataFrame:
    # SQL pipe syntax surface (Spark 4.0 SQL): the same logical plan as a
    # classic GROUP BY, written as a |> pipeline. Catalyst compiles both
    # identically; the oracle is the classic form. Sum goes through the
    # exact-decimal convention like every money aggregate.
    read_table(spark, sf, "lineitem").createOrReplaceTempView("pipe_li_v")
    return spark.sql(
        """
        FROM pipe_li_v
        |> WHERE l_quantity >= 10
        |> AGGREGATE COUNT(*) AS n_rows,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS sum_price
           GROUP BY l_returnflag, l_linestatus
        """
    )


def q_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    # WITH RECURSIVE surface (Spark 4 SQL): bounded-depth reachability
    # from node 0 over the q_bfs_hops-derived graph, aggregated to
    # min-hop distances — the declarative twin of the iterative
    # DataFrame BFS (same derived graph, same answer for d <= 3, so the
    # two implementations cross-validate). The recursive term is
    # DISTINCT — a FRONTIER recursion bounded at <= |V| rows per level.
    # Without it the recursion enumerates PATHS, which is exponential in
    # graph density: at sf0.1 the 3-hop path count blows through Spark's
    # 1M-row recursion limit (RECURSION_ROW_LIMIT_EXCEEDED) and at any
    # cluster scale it is the difference between O(V*depth) and
    # O(avg_deg^depth) state. The depth guard (d < 3) bounds the
    # recursion; the oracle runs the identical frontier recursion.
    read_table(spark, sf, "orders").createOrReplaceTempView("rec_orders_v")
    return spark.sql(
        """
        WITH RECURSIVE und AS (
          SELECT DISTINCT a, b FROM (
            SELECT o_custkey % 500 AS a, o_orderkey % 700 AS b
            FROM rec_orders_v
            UNION ALL
            SELECT o_orderkey % 700, o_custkey % 500 FROM rec_orders_v)
          WHERE a <> b
        ),
        reach(v, d) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT DISTINCT und.b, r.d + 1
          FROM reach r JOIN und ON und.a = r.v
          WHERE r.d < 3
        )
        SELECT v, CAST(MIN(d) AS INT) AS hops FROM reach GROUP BY v
        """
    )


def q_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    # OHLC candle downsampling — the time-series bar aggregation every
    # market/metrics store ships: per (day, event_type), open/close via
    # deterministic first/last over (ts, event_id) windows, high/low as
    # plain max/min. No sums of doubles anywhere (picks and extrema are
    # order-independent), so floats compare bit-exactly cross-engine.
    ev = read_table(spark, sf, "events").select(
        F.to_date("ts").alias("day"), "event_type", "ts", "event_id", "value"
    )
    w_asc = Window.partitionBy("day", "event_type").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("day", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    first_last = ev.withColumn("rn_a", F.row_number().over(w_asc)).withColumn(
        "rn_d", F.row_number().over(w_desc)
    )
    return first_last.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
    )


def q_multimodal_patches(spark: SparkSession, sf: str) -> DataFrame:
    # ViT-style patch extraction over REAL decoded PPM pixels
    # (multimodal/binary_ops.patch_features): the same synthetic P6
    # asset as q_multimodal_ppm, decoded in Arrow mapInPandas and
    # fanned out 1->8 patches with per-patch byte sums — actual pixel
    # arithmetic, bit-exact oracle via ord() over the same buffer.
    from iowa_liquor_sales_spark.multimodal.binary_ops import patch_features

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    assets = docs.select(
        "doc_id",
        F.concat(
            F.lit("P6\n# synthetic asset\n8 4\n255\n").cast("binary"),
            F.rpad(F.col("text"), 96, "x").cast("binary"),
        ).alias("payload"),
    )
    return patch_features(assets, patch_bytes=12)


def q_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-LM fluency scoring (operators/text.lm_score_docs): each
    # document's mean bigram-probability in exact integer ppm — the
    # perplexity-proxy filter after ngram-LM training, no log/float.
    from iowa_liquor_sales_spark.operators.text import lm_score_docs

    return lm_score_docs(read_table(spark, sf, "documents"))


def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Exactly-once-per-key delivery dedup (streaming/events.dedup_stream,
    # batch twin of dropDuplicatesWithinWatermark — the streaming leg
    # runs in tests/test_streaming.py): the event feed unioned with
    # itself models an at-least-once redelivery; dedup on event_id must
    # restore the original stream exactly. Duplicate rows are
    # bit-identical, so the keep-any semantics stay deterministic.
    from iowa_liquor_sales_spark.streaming.events import dedup_stream

    ev = read_table(spark, sf, "events")
    redelivered = ev.unionAll(ev)
    clean = dedup_stream(redelivered, key_cols=["event_id"])
    return clean.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value", 2, "sum_value"),
    )


def q_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-document exact-substring dedup (operators/dedup.duplicated_spans
    # — the Lee-et-al. span-level pass): word 5-grams shared by >= 2
    # distinct docs mark spans, merged per doc by a higher-order fold.
    # Two map-combinable shuffles + one hash join; nothing broadcast —
    # the flagged-gram set is O(corpus).
    from iowa_liquor_sales_spark.operators.dedup import duplicated_spans

    return duplicated_spans(
        read_table(spark, sf, "documents"), "text", "doc_id", k=5
    )



def _geohash_oracle() -> str:
    from iowa_liquor_sales_spark.operators.layout import (
        geohash_bits_sql,
        geohash_chars_sql,
    )

    return f"""
        WITH c AS (
          SELECT c_custkey,
                 CAST((c_custkey % 120) - 60 + 0.25 AS DOUBLE) AS lat,
                 CAST(((c_custkey * 7) % 360) - 180 + 0.25 AS DOUBLE) AS lon
          FROM customer),
        z AS (SELECT c_custkey,
                     {geohash_bits_sql("lat", "lon", 6)} AS z FROM c),
        g AS (SELECT c_custkey,
                     {geohash_chars_sql("z", 6)} AS gh FROM z)
        SELECT substr(gh, 1, 4) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               MIN(gh) AS min_hash,
               MIN(c_custkey) AS min_cust,
               MAX(c_custkey) AS max_cust
        FROM g GROUP BY cell"""



def _hll_sliding_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import hll_sliding_sql

    return hll_sliding_sql(
        "epoch_us(ts) // 86400000000", "user_id", "events",
        window_days=7, p=6,
    )


def _substring_dedup_oracle(k: int = 5) -> str:
    # Islands via windowed max-end (ends ascend with starts, so the
    # running max over preceding rows == the fold's cur_end). Explicit
    # ELSE 0 + COALESCE(first row) per the gaps-and-islands flag trap.
    return f"""
        WITH w AS (
          SELECT doc_id,
                 string_split_regex(trim(text), ' +') AS ws
          FROM documents),
        g AS (
          SELECT doc_id, CAST(i AS INT) AS start,
                 array_to_string(ws[i:i + {k - 1}], ' ') AS gram
          FROM (
            SELECT doc_id, ws,
                   unnest(range(1, len(ws) - {k} + 2)) AS i
            FROM w WHERE len(ws) >= {k})),
        dup AS (
          SELECT gram FROM g GROUP BY gram
          HAVING MIN(doc_id) <> MAX(doc_id)),
        h AS (SELECT g.doc_id, g.start FROM g JOIN dup USING (gram)),
        o AS (
          SELECT doc_id, start,
                 CASE WHEN start >= COALESCE(MAX(start + {k}) OVER (
                        PARTITION BY doc_id ORDER BY start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0)
                      THEN 1 ELSE 0 END AS brk
          FROM h),
        i AS (
          SELECT doc_id, start,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS gid
          FROM o),
        isl AS (
          SELECT doc_id, gid, MIN(start) AS s0, MAX(start) + {k} AS e0,
                 COUNT(*) AS ng
          FROM i GROUP BY doc_id, gid)
        SELECT doc_id,
               CAST(SUM(ng) AS BIGINT) AS n_dup_grams,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e0 - s0) AS BIGINT) AS dup_tokens
        FROM isl GROUP BY doc_id"""


def q_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    # Link prediction (operators/graph.adamic_adar) over the bipartite
    # customer-node/order-node projection: non-adjacent pairs scored by
    # Σ 1/ln(deg) of common neighbors, integer-scaled for exact sums.
    # max_deg=300 is inert at gate SF but prunes hub middles at scale.
    from iowa_liquor_sales_spark.operators.graph import adamic_adar

    o = read_table(spark, sf, "orders")
    # 4000/6000 moduli keep expected degrees ~25-40 at bench SF: wedge
    # count is Σ deg(w)², so the modulus IS the scale knob; the
    # max_deg cap then only fires on genuine hub skew.
    edges = o.select(
        (F.col("o_custkey") % 4000).alias("src"),
        ((F.col("o_orderkey") % 6000) + 4000).alias("dst"),
    )
    return adamic_adar(edges, max_deg=300)


def q_acf(spark: SparkSession, sf: str) -> DataFrame:
    # Autocorrelation function per event type at lags 1-3
    # (operators/temporal.autocorrelation): one hash-partitioned per-key
    # window pass -> one combinable moment aggregate; the
    # pick-your-forecast-model diagnostic.
    from iowa_liquor_sales_spark.operators.temporal import autocorrelation

    return autocorrelation(
        read_table(spark, sf, "events"),
        key_col="event_type",
        order_col="event_id",
        value_col="value",
    )


def q_geohash(spark: SparkSession, sf: str) -> DataFrame:
    # Geohash spatial binning (operators/layout.geohash_bits_sql /
    # geohash_chars_sql — ONE engine-neutral renderer feeds both Spark
    # and the oracle, the zorder_sql discipline): quantize + interleave
    # + base32, then aggregate per 4-char cell. Pure integer bit
    # expressions inside whole-stage codegen; zero Python.
    from iowa_liquor_sales_spark.operators.layout import (
        geohash_bits_sql,
        geohash_chars_sql,
    )

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 120) - 60 + F.lit(0.25))
        .cast("double")
        .alias("lat"),
        (((F.col("c_custkey") * 7) % 360) - 180 + F.lit(0.25))
        .cast("double")
        .alias("lon"),
    )
    z = c.withColumn("z", F.expr(geohash_bits_sql("lat", "lon", 6)))
    gh = z.withColumn("gh", F.expr(geohash_chars_sql("z", 6)))
    return gh.groupBy(F.substring("gh", 1, 4).alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.min("gh").alias("min_hash"),
        F.min("c_custkey").alias("min_cust"),
        F.max("c_custkey").alias("max_cust"),
    )


def q_interp_linear(spark: SparkSession, sf: str) -> DataFrame:
    # Gap-fill with LINEAR interpolation
    # (operators/temporal.resample_interpolate): hourly grid per user,
    # backward+forward observed-neighbor frames off ONE sort, closed-form
    # per-row interpolation (no float accumulation). The continuous-signal
    # twin of q_resample_ffill.
    from iowa_liquor_sales_spark.operators.temporal import (
        resample_interpolate,
    )

    return resample_interpolate(read_table(spark, sf, "events"))


def q_apply_in_arrow(spark: SparkSession, sf: str) -> DataFrame:
    # applyInArrow API surface (functions/udfs.grouped_stats_arrow):
    # whole-group pyarrow.compute kernel, zero-copy RecordBatches, no
    # pandas conversion. Cents-exact integer math keeps the Python
    # kernel bit-identical to the SQL twin.
    from iowa_liquor_sales_spark.functions.udfs import grouped_stats_arrow

    c = read_table(spark, sf, "customer")
    return grouped_stats_arrow(
        c.groupBy("c_nationkey"), "c_acctbal", "c_nationkey"
    )


def q_theilsen(spark: SparkSession, sf: str) -> DataFrame:
    # Robust trend per order priority (operators/aggregates.
    # theil_sen_slope): median pairwise slope of MONTHLY revenue cents
    # on month index — the calendar bounds each series, so the O(n²)
    # pair set is ~276 rows per group regardless of data volume.
    from iowa_liquor_sales_spark.operators.aggregates import (
        theil_sen_slope,
    )

    o = read_table(spark, sf, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - 1995) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("mx"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("rev_cents")
    )
    return theil_sen_slope(monthly, "o_orderpriority", "mx", "rev_cents")


def q_zonemap_prune(spark: SparkSession, sf: str) -> DataFrame:
    # Zone-map skipping diagnostic (operators/layout.zonemap_skip_report):
    # 64k-key orderkey buckets as simulated row groups, shipdate
    # envelopes vs a one-quarter BETWEEN — how much I/O min/max stats
    # save. One combinable aggregate, O(buckets) rows.
    from iowa_liquor_sales_spark.operators.layout import (
        zonemap_skip_report,
    )

    li = read_table(spark, sf, "lineitem")
    return zonemap_skip_report(
        li,
        F.expr("l_orderkey div 65536"),
        "l_shipdate",
        "1996-01-01",
        "1996-03-31",
    )


def q_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    # Poisson bootstrap CI for mean order value
    # (operators/sampling.bootstrap_mean_ci): per-(row, replicate)
    # hash-drawn Poisson(1) multiplicities — no rand(), no global count,
    # the 40x fan-out dies in the map-side combiner. CI bounds
    # integer-millicent exact.
    from iowa_liquor_sales_spark.operators.sampling import (
        bootstrap_mean_ci,
    )

    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return bootstrap_mean_ci(o, "o_orderkey", "cents", n_boot=40)


def q_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental rollup maintenance (operators/upsert.
    # merge_aggregate_delta): the <=1996 base aggregate plus the 1997+
    # delta aggregate merged WITHOUT re-reading base facts must equal the
    # full recompute (the oracle). Cost scales with delta + group count.
    from iowa_liquor_sales_spark.operators.upsert import (
        merge_aggregate_delta,
    )

    o = read_table(spark, sf, "orders")

    def rollup(df):
        return df.groupBy("o_orderpriority").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )

    base = rollup(o.filter(F.year("o_orderdate") <= 1996))
    delta = rollup(o.filter(F.year("o_orderdate") >= 1997))
    return merge_aggregate_delta(
        base, delta, ["o_orderpriority"], ["rev_cents"]
    )


def q_hll_sliding(spark: SparkSession, sf: str) -> DataFrame:
    # Trailing-7-day distinct users per day from MERGED daily HLL
    # sketches (operators/sketches.hll_sliding_distinct): raw facts are
    # folded once per day into 2^6 registers; the window merges
    # O(days x 64) sketch rows, never re-scanning facts — the sketch-
    # mergeability pattern exact COUNT(DISTINCT) can't match at scale.
    from iowa_liquor_sales_spark.functions.dates import EPOCH_US_SQL
    from iowa_liquor_sales_spark.operators.sketches import (
        hll_sliding_distinct,
    )

    ev = read_table(spark, sf, "events").withColumn(
        "day", F.expr(f"{EPOCH_US_SQL.format(col='ts')} div 86400000000")
    )
    return hll_sliding_distinct(ev, "day", "user_id", window_days=7, p=6)


def q_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-source score alignment (operators/curation.quantile_normalize):
    # each source's n_chars distribution remapped onto the global one via
    # integer target ranks — per-group windows + the distributed global
    # ranker, one equi-join on rank. The pre-mixing normalizer for
    # corpora whose raw quality scales differ.
    from iowa_liquor_sales_spark.operators.curation import (
        quantile_normalize,
    )

    return quantile_normalize(
        read_table(spark, sf, "documents"), "source", "n_chars", "doc_id"
    )


def q_embed_covariance(spark: SparkSession, sf: str) -> DataFrame:
    # Distributed covariance matrix of the embedding column
    # (operators/similarity.embedding_covariance): the O(N·d²) PCA/
    # whitening precursor — upper-triangle pair terms generated within
    # each row by chained posexplodes (no join, no shuffle before the
    # final d²-group reduce); exact int64 sums.
    from iowa_liquor_sales_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(read_table(spark, sf, "embeddings"))


def q_kfold_loo(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-validation statistics from ONE scan (operators/sampling.
    # kfold_loo_aggregates): per-fold partial sums, training-side means
    # by total-minus-fold — never k passes. Hash-assigned folds, exact
    # integer sums, millicent-rounded divisions.
    from iowa_liquor_sales_spark.operators.sampling import (
        kfold_loo_aggregates,
    )

    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return kfold_loo_aggregates(o, "o_orderkey", "cents", k=5)


def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    # Release-gate k-anonymity audit (operators/quality.k_anonymity_audit)
    # over the (nation, segment, acctbal-sign) quasi-identifier: groups
    # under k=5 re-identify members. One combinable aggregate + O(groups)
    # rollup.
    from iowa_liquor_sales_spark.operators.quality import (
        k_anonymity_audit,
    )

    c = read_table(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal") < 0).cast("int").alias("bal_neg"),
    )
    return k_anonymity_audit(
        c, ["c_nationkey", "c_mktsegment", "bal_neg"], k=5
    )


def q_pca_pc1(spark: SparkSession, sf: str) -> DataFrame:
    # Top principal component by power iteration (operators/similarity.
    # power_iteration_pc1) over the distributed covariance of the
    # label-spiked embeddings (the spike plants a ~100x spectral gap, so
    # the 3-round fixed-iteration contract is converged). Exact int64
    # multiply-accumulates; generated CTE-replay oracle.
    from iowa_liquor_sales_spark.operators.similarity import (
        embedding_covariance,
        power_iteration_pc1,
    )

    emb = read_table(spark, sf, "embeddings")
    spiked = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + F.when(i < 8, F.lit(0.2) * F.col("label")).otherwise(
                F.lit(0.0)
            ),
        ).alias("embedding"),
    )
    return power_iteration_pc1(embedding_covariance(spiked), dim=64)


def _pca_pc1_oracle(dim: int = 64, iters: int = 3) -> str:
    """Mechanical replay of embedding_covariance + power_iteration_pc1
    (generated like _mst_oracle so the iteration dataflow cannot
    drift): spiked quantized arrays -> upper-triangle covariance ->
    symmetrized matrix -> ``iters`` rounds of exact-int multiply,
    sign-symmetric div-2^30 quantize, sqrt norm, rounded rescale ->
    deterministic sign fix."""
    blocks = [f"""
        q AS (
          SELECT [CAST(round((CAST(embedding[i + 1] AS DOUBLE)
                              + CASE WHEN i < 8 THEN 0.2 * label
                                     ELSE 0.0 END) * 1000000) AS BIGINT)
                  FOR i IN range(0, len(embedding))] AS arr
          FROM embeddings),
        a AS (SELECT arr, unnest(range(0, len(arr))) AS i FROM q),
        a2 AS (SELECT arr, CAST(i AS INT) AS i, arr[i + 1] AS xi FROM a),
        b AS (SELECT i, xi, arr, unnest(range(i, len(arr))) AS j FROM a2),
        b2 AS (SELECT i, CAST(j AS INT) AS j, xi, arr[j + 1] AS xj FROM b),
        agg AS (
          SELECT i, j,
                 CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(SUM(xi * xj) AS BIGINT) AS sum_xy,
                 CAST(SUM(xi) AS BIGINT) AS sum_x,
                 CAST(SUM(xj) AS BIGINT) AS sum_y
          FROM b2 GROUP BY i, j),
        cov AS (
          SELECT i, j,
                 CAST(floor((sum_xy / n_vecs
                             - (sum_x / n_vecs) * (sum_y / n_vecs))
                            * 1000.0) AS BIGINT) AS cov_milli
          FROM agg),
        up AS (SELECT i, j,
                      CASE WHEN cov_milli < 0
                           THEN -((-cov_milli) // 1000000)
                           ELSE cov_milli // 1000000 END AS c
               FROM cov),
        sym AS (
          SELECT i, j, c FROM up
          UNION ALL
          SELECT j AS i, i AS j, c FROM up WHERE i <> j),
        v0 AS (SELECT CAST(i AS INT) AS j, CAST(1000000 AS BIGINT) AS v
               FROM range(0, {dim}) t(i))"""]
    vp = "v0"
    for t in range(1, iters + 1):
        blocks.append(f"""
        w{t} AS (
          SELECT s.i,
                 CASE WHEN SUM(s.c * v.v) < 0
                      THEN -(CAST(-SUM(s.c * v.v) AS BIGINT) // 1073741824)
                      ELSE CAST(SUM(s.c * v.v) AS BIGINT) // 1073741824
                 END AS wq
          FROM sym s JOIN {vp} v ON s.j = v.j GROUP BY s.i),
        n{t} AS (SELECT sqrt(CAST(SUM(wq * wq) AS DOUBLE)) AS n FROM w{t}),
        v{t} AS (
          SELECT i AS j,
                 CAST(ROUND(1000000.0 * wq / n, 0) AS BIGINT) AS v
          FROM w{t}, n{t})""")
        vp = f"v{t}"
    return (
        "WITH " + ",".join(blocks) + f"""
        , pick AS (SELECT v FROM {vp}
                   ORDER BY abs(v) DESC, j ASC LIMIT 1),
        sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s FROM pick)
        SELECT j AS i, v * s AS v_scaled FROM {vp}, sgn ORDER BY i"""
    )


def q_markov_attribution(spark: SparkSession, sf: str) -> DataFrame:
    # Removal-effect attribution over the event-type Markov chain
    # (operators/graph.markov_removal_attribution): distributed
    # transition estimate (per-user window + O(types²) ppm aggregate),
    # exact-integer value iteration per removal scenario on the bounded
    # collected chain — generated CTE-replay oracle.
    from iowa_liquor_sales_spark.operators.graph import (
        markov_removal_attribution,
    )

    return markov_removal_attribution(read_table(spark, sf, "events"))


def _markov_attribution_oracle(horizon: int = 8) -> str:
    """Mechanical replay of markov_removal_attribution (the _mst_oracle
    pattern): windowed transition counts -> integer ppm probabilities ->
    per-scenario exact-int value iteration -> removal effects."""
    blocks = ["""
        seq AS MATERIALIZED (
          SELECT event_type AS t,
                 lead(event_type) OVER wu AS nxt,
                 row_number() OVER wu AS rn
          FROM events
          WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)),
        core AS MATERIALIZED (SELECT t AS src, COALESCE(nxt, 'END') AS dst
                 FROM seq WHERE t <> 'purchase'),
        firsts AS MATERIALIZED (SELECT 'START' AS src, t AS dst FROM seq WHERE rn = 1),
        trans AS MATERIALIZED (
          SELECT src, dst, COUNT(*) AS n FROM (
            SELECT * FROM core UNION ALL SELECT * FROM firsts)
          GROUP BY src, dst),
        ppm AS MATERIALIZED (
          SELECT src, dst,
                 (1000000 * n) // SUM(n) OVER (PARTITION BY src) AS p_ppm
          FROM trans),
        states AS MATERIALIZED (
          SELECT DISTINCT s FROM (
            SELECT src AS s FROM ppm UNION SELECT dst FROM ppm
            UNION SELECT 'purchase' UNION SELECT 'END')),
        chan AS MATERIALIZED (SELECT s AS c FROM states
                 WHERE s NOT IN ('START', 'END', 'purchase')),
        scen AS MATERIALIZED (SELECT c AS removed FROM chan
                 UNION ALL SELECT CAST(NULL AS VARCHAR)),
        sp AS MATERIALIZED (
          SELECT sc.removed, p.src, p.dst, p.p_ppm
          FROM scen sc JOIN ppm p
            ON sc.removed IS NULL
               OR (p.src <> sc.removed AND p.dst <> sc.removed)),
        r0 AS MATERIALIZED (
          SELECT sc.removed, st.s AS state,
                 CAST(CASE WHEN st.s = 'purchase' THEN 1000000 ELSE 0 END
                      AS BIGINT) AS r
          FROM scen sc, states st)"""]
    rp = "r0"
    for t in range(1, horizon + 1):
        blocks.append(f"""
        w{t} AS MATERIALIZED (
          SELECT sp.removed, sp.src AS state,
                 CAST(SUM(sp.p_ppm * r.r) AS BIGINT) // 1000000 AS rr
          FROM sp JOIN {rp} r
            ON sp.dst = r.state
               AND sp.removed IS NOT DISTINCT FROM r.removed
          GROUP BY sp.removed, sp.src),
        r{t} AS MATERIALIZED (
          SELECT p.removed, p.state, COALESCE(w.rr, p.r) AS r
          FROM {rp} p LEFT JOIN w{t} w
            ON p.state = w.state
               AND p.removed IS NOT DISTINCT FROM w.removed)""")
        rp = f"r{t}"
    return (
        "WITH " + ",".join(blocks) + f"""
        , res AS (SELECT removed, r FROM {rp} WHERE state = 'START'),
        fullr AS (SELECT r AS fr FROM res WHERE removed IS NULL)
        SELECT c.c AS channel,
               CAST(f.fr AS BIGINT) AS reach_full_ppm,
               CAST(res.r AS BIGINT) AS reach_removed_ppm,
               CAST(f.fr - res.r AS BIGINT) AS effect_ppm
        FROM chan c JOIN res ON res.removed = c.c, fullr f"""
    )


def q_term_kl_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Vocabulary drift monitor (operators/text.term_kl_divergence):
    # add-1-smoothed unigram KL between even- and odd-doc_id halves,
    # both directions; per-term contributions integer-scaled at 1e9 so
    # the corpus-wide sum is partition-order exact.
    from iowa_liquor_sales_spark.operators.text import term_kl_divergence

    d = read_table(spark, sf, "documents").withColumn(
        "side", (F.col("doc_id") % 2).cast("int")
    )
    return term_kl_divergence(d, "side")


def q_lttb_downsample(spark: SparkSession, sf: str) -> DataFrame:
    # Visual-fidelity series downsampling (operators/temporal.
    # lttb_downsample — parallel LTTB with neighbor-bucket-average
    # anchors): 32 buckets per event type, exact-integer triangle
    # areas, bit-stable argmax. One window pass + two bucket joins.
    from iowa_liquor_sales_spark.operators.temporal import lttb_downsample

    ev = read_table(spark, sf, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return lttb_downsample(
        ev, "event_type", ["ts", "event_id"], "cents", n_buckets=32
    )


def q_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    # Homogeneity-attack gate (operators/quality.l_diversity_audit):
    # QI = (nation, segment), sensitive = mktsegment-independent account
    # balance sign+magnitude bucket; groups with < 3 distinct sensitive
    # values expose members even when k-anonymous.
    from iowa_liquor_sales_spark.operators.quality import (
        l_diversity_audit,
    )

    c = read_table(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.round(F.col("c_acctbal")).cast("long") % 10).alias("bal_bucket"),
    )
    return l_diversity_audit(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3
    )


def q_event_motif(spark: SparkSession, sf: str) -> DataFrame:
    # Behavioral motif mining (operators/temporal.sequence_motif_counts):
    # per-user non-overlapping view->click->purchase ("vcp") counts via
    # engine-exact string arithmetic — the lightweight MATCH_RECOGNIZE.
    from iowa_liquor_sales_spark.operators.temporal import (
        sequence_motif_counts,
    )

    return sequence_motif_counts(
        read_table(spark, sf, "events"),
        "user_id", "ts", "event_id", "event_type", "vcp",
    )


def q_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    # Local clustering coefficient (operators/graph.
    # clustering_coefficient) over the triangles-family derived graph:
    # wedge enumeration through the middle vertex + one semi-join close;
    # integer-exact ppm ratios.
    from iowa_liquor_sales_spark.operators.graph import (
        clustering_coefficient,
    )

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return clustering_coefficient(edges)


def q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    # Nearest-in-time as-of join (operators/temporal.asof_join
    # direction="nearest"): each purchase picks the click with the
    # smallest |Δt| (backward wins ties); both directions ride one
    # shuffle. Right side deduped per (user, ts) so tie winners are
    # engine-independent.
    from iowa_liquor_sales_spark.operators.dedup import dedup_rank
    from iowa_liquor_sales_spark.operators.temporal import asof_join
    from iowa_liquor_sales_spark.functions.dates import epoch_us

    ev = read_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = dedup_rank(
        ev.filter(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        ),
        ["user_id", "ts"],
        ["event_id"],
    )
    j = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        direction="nearest",
    )
    return j.select(
        "user_id",
        "event_id",
        epoch_us(F.col("ts")).alias("purchase_ts_us"),
        F.col("r_event_id").alias("click_event_id"),
        epoch_us(F.col("r_ts")).alias("click_ts_us"),
    )


def q_spearman(spark: SparkSession, sf: str) -> DataFrame:
    # Spearman rank correlation of quantity vs discount per return flag
    # — the monotone-association screen Pearson misses. Tie-averaged
    # ranks carried as EXACT integers (double-rank d = 2*min_rank +
    # ties - 1, so k+0.5 midranks never touch a float), then the
    # Pearson finish over exact integer moments (the q_corr_stats
    # discipline), floor-scaled BIGINT out. At scale: two per-key range
    # sorts (the rank windows) + one combinable moment aggregate.
    li = read_table(spark, sf, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    wq = Window.partitionBy("l_returnflag").orderBy("q")
    wqt = Window.partitionBy("l_returnflag", "q")
    wd = Window.partitionBy("l_returnflag").orderBy("d")
    wdt = Window.partitionBy("l_returnflag", "d")
    ranked = base.select(
        "l_returnflag",
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(wqt) - 1).alias("rx"),
        (2 * F.rank().over(wd) + F.count(F.lit(1)).over(wdt) - 1).alias("ry"),
    )
    g = (
        ranked.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            xsum("rx", "sx_"),
            xsum(F.col("rx") * F.col("rx"), "sxx_"),
            xsum("ry", "sy_"),
            xsum(F.col("ry") * F.col("ry"), "syy_"),
            xsum(F.col("rx") * F.col("ry"), "sxy_"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.col("n_rows").cast("double").alias("n"),
            det_double("sx_").alias("sx"),
            det_double("sxx_").alias("sxx"),
            det_double("sy_").alias("sy"),
            det_double("syy_").alias("syy"),
            det_double("sxy_").alias("sxy"),
        )
    )
    cs = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    dx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    dy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    rho = cs / (F.sqrt(dx) * F.sqrt(dy))
    return g.select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        floor_scaled(rho, 9, "spearman_ppb"),
    )


def q_anova(spark: SparkSession, sf: str) -> DataFrame:
    # One-way ANOVA F of order totalprice across the 5 order priorities.
    # Between/within sums of squares assembled ONLY from exact integer
    # moments; each group's S_g^2/n_g term is floor-quantized to an
    # integer (kilodollar^2 grid — int64 headroom past sf1e4) BEFORE
    # the cross-group sum, the kaplan-meier discipline that turns a sum
    # of per-group doubles into exact integer addition (associativity-
    # proof on any partitioning, any engine). O(groups) shuffle rows.
    o = read_table(spark, sf, "orders")
    pc = F.round(F.col("o_totalprice") * 100).cast("long")
    per = (
        o.select("o_orderpriority", pc.alias("pc"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("ng"),
            xsum("pc", "s_"),
            xsum(F.col("pc") * F.col("pc"), "ss_"),
        )
        .select(
            "ng",
            "s_",
            "ss_",
            # cents^2 -> kd^2 is /1e10; identical op order in the oracle
            F.floor(
                det_double("s_")
                * det_double("s_")
                / F.col("ng").cast("double")
                / F.lit(10000000000.0)
            ).alias("t_kd2"),
        )
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("ng").cast("long").alias("n_total"),
        xsum("t_kd2", "a_"),
        F.sum("s_").alias("gs_"),
        F.sum("ss_").alias("gss_"),
    ).select(
        "k_groups",
        "n_total",
        det_double("a_").alias("a"),
        F.floor(
            det_double("gs_")
            * det_double("gs_")
            / F.col("n_total").cast("double")
            / F.lit(10000000000.0)
        )
        .cast("double")
        .alias("g"),
        F.floor(det_double("gss_") / F.lit(10000000000.0))
        .cast("double")
        .alias("t"),
    )
    ssb = F.col("a") - F.col("g")
    ssw = F.col("t") - F.col("a")
    fstat = (ssb / (F.col("k_groups") - 1).cast("double")) / (
        ssw / (F.col("n_total") - F.col("k_groups")).cast("double")
    )
    return tot.select(
        "k_groups",
        "n_total",
        ssb.cast("long").alias("ssb_kd2"),
        ssw.cast("long").alias("ssw_kd2"),
        floor_scaled(fstat, 6, "f_micro"),
        floor_scaled(ssb / (F.col("t") - F.col("g")), 9, "eta2_ppb"),
    )


def q_ccf(spark: SparkSession, sf: str) -> DataFrame:
    # Lead-lag cross-correlation between daily order count and daily
    # shipped-line count at lags 0..6 — "does ordering volume predict
    # shipping volume l days later?" Zero-filled date spine (an inner
    # join would bias rho toward busy days), truncated pairs
    # (day + lag <= spine end), exact integer moments per lag. The two
    # daily relations are O(days) — everything after the first
    # aggregates is broadcast-sized at any corpus scale.
    o = read_table(spark, sf, "orders")
    li = read_table(spark, sf, "lineitem")
    oc = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    lc = li.groupBy(F.to_date("l_shipdate").alias("yday")).agg(
        F.count(F.lit(1)).alias("y")
    )
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    lags = spark.range(7).select(F.col("id").cast("int").alias("lag"))
    grid = (
        span.select(
            F.explode(F.sequence("d0", "d1")).alias("day"), F.col("d1")
        )
        .crossJoin(F.broadcast(lags))
        .filter(F.date_add(F.col("day"), F.col("lag")) <= F.col("d1"))
    )
    j = (
        grid.join(oc, "day", "left")
        .join(
            lc,
            F.date_add(F.col("day"), F.col("lag")) == F.col("yday"),
            "left",
        )
        .select(
            "lag",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    g = (
        j.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            xsum("x", "sx_"),
            xsum(F.col("x") * F.col("x"), "sxx_"),
            xsum("y", "sy_"),
            xsum(F.col("y") * F.col("y"), "syy_"),
            xsum(F.col("x") * F.col("y"), "sxy_"),
        )
        .select(
            "lag",
            "n_days",
            F.col("n_days").cast("double").alias("n"),
            det_double("sx_").alias("sx"),
            det_double("sxx_").alias("sxx"),
            det_double("sy_").alias("sy"),
            det_double("syy_").alias("syy"),
            det_double("sxy_").alias("sxy"),
        )
    )
    cs = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    dx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    dy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    rho = cs / (F.sqrt(dx) * F.sqrt(dy))
    return g.select(
        "lag",
        F.col("n_days").cast("long").alias("n_days"),
        floor_scaled(rho, 9, "ccf_ppb"),
    )


def q_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Canonicalization-aware exact dedup (text.canonicalize_confusables
    # ∘ dedup.exact_dedup): every 3rd document gets an obfuscated twin —
    # Latin a/e/o swapped for Cyrillic homoglyphs plus a planted
    # zero-width space — which raw md5 dedup cannot see (one swapped
    # byte, new hash). Folding confusables, stripping zero-width chars,
    # collapsing whitespace, and lowercasing BEFORE hashing recovers
    # every planted twin group; the oracle replays the identical
    # translate/regexp/lower pipeline. Output: canonical dup groups
    # with >= 2 members.
    from iowa_liquor_sales_spark.operators.dedup import exact_dedup
    from iowa_liquor_sales_spark.operators.text import (
        canonicalize_confusables,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    obf = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("aid"),
        F.concat(
            F.substring("text", 1, 1),
            F.lit("\u200b"),
            F.translate(F.expr("substring(text, 2)"), "aeo", "аео"),
        ).alias("t"),
    )
    assets = docs.select(
        (F.col("doc_id") * 2).alias("aid"), F.col("text").alias("t")
    ).unionAll(obf)
    canon = canonicalize_confusables(assets, text_col="t")
    return exact_dedup(canon, "canon_text", "aid").filter(
        F.col("n_dups") >= 2
    )


def q_join_delta(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental JOIN-view maintenance (upsert.join_view_delta, the
    # Gupta-Mumick insert-only delta rule): orders and lineitem each
    # split into base + insert batch on INDEPENDENT attributes, and the
    # view's delta is computed as dA⋈B ∪ A⋈dB ∪ dA⋈dB — no base⋈base
    # join anywhere in the plan. Join views are BAGS (the synthetic
    # lineitem PK is deliberately non-unique), so the output is the
    # delta's per-row-value MULTIPLICITY, and the oracle proves the bag
    # algebra: count(full new view) - count(full old view) per row
    # value.
    from iowa_liquor_sales_spark.operators.upsert import join_view_delta

    o = read_table(spark, sf, "orders")
    li = read_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_suppkey"
    )
    bo = o.filter(F.col("o_orderkey") % 10 < 8)
    do_ = o.filter(F.col("o_orderkey") % 10 >= 8)
    bl = li.filter(F.col("l_suppkey") % 7 < 5)
    dl = li.filter(F.col("l_suppkey") % 7 >= 5)
    return (
        join_view_delta(bo, do_, bl, dl, ["o_orderkey"])
        .groupBy("o_orderkey", "l_linenumber", "o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


def q_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    # Greedy best-first corpus selection under a 20k-token budget
    # (curation.select_token_budget): quality = word count, tokens =
    # n_chars div 4, keep docs in (quality desc, doc_id) order while
    # the running sum fits. The engine plan never sorts the corpus —
    # O(distinct quality levels) cumulative grid + a within-level
    # window on the ONE boundary level; the oracle is the naive global
    # prefix scan, proving the two-phase rewrite exact.
    from iowa_liquor_sales_spark.operators.curation import select_token_budget

    d = read_table(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("q"),
        F.expr("n_chars div 4").alias("tok"),
    )
    return select_token_budget(
        d, budget_tokens=20_000, quality_col="q", token_col="tok"
    )


def q_leakage_split(spark: SparkSession, sf: str) -> DataFrame:
    # Dedup-aware train/val/test split (sampling.leakage_safe_split):
    # near-dup pairs (exact Jaccard >= 0.5 over df-capped 3-gram
    # shingles — the q_dedup_clusters pair graph) -> transitive CC
    # cluster ids -> ONE content-keyed hash_split on the CLUSTER, so
    # near-duplicates can never straddle the train/eval boundary (the
    # eval-contamination leak a per-row hash split commits by
    # construction). Oracle replays the recursive-CTE transitive
    # closure, left-joins the full corpus so singletons split by their
    # own id, and applies the identical md5 bucket carve.
    from iowa_liquor_sales_spark.operators.dedup import jaccard_pairs, shingles
    from iowa_liquor_sales_spark.operators.sampling import leakage_safe_split

    docs = read_table(spark, sf, "documents")
    cap = max(1, int(0.05 * docs.count()))
    pairs = jaccard_pairs(
        shingles(docs, "text", "doc_id", n=3), min_jaccard=0.5, max_df=cap
    ).select("doc_a", "doc_b")
    return leakage_safe_split(docs, pairs)


def q_ann_range(spark: SparkSession, sf: str) -> DataFrame:
    # IVF RANGE search (similarity.ann_range_search, FAISS range_search
    # semantics): every vector in query 0's two probe cells with cosine
    # >= 0.2 — the radius-query companion to the top-k family
    # (q_ann_ivf/q_ann_multiprobe). No global window at all: the
    # threshold filter is embarrassingly parallel, which is the whole
    # point of range search at corpus scale. Oracle mirrors the probe
    # -cell semantics exactly (same deterministic cell ranking).
    from iowa_liquor_sales_spark.operators.similarity import ann_range_search

    emb = read_table(spark, sf, "embeddings")
    return ann_range_search(emb, query_id=0, min_cos=0.2, n_cells=16, nprobe=2)


def q_image_dhash(spark: SparkSession, sf: str) -> DataFrame:
    # Perceptual image dedup end-to-end (multimodal/binary_ops.
    # image_dhash + dhash_hamming_pairs): each document becomes a REAL
    # 16x8 binary PPM (P6) plus a 1-byte-perturbed twin; the decode ->
    # integer grayscale -> exact 2x1 area-pool to an 8x8 grid -> 56-bit
    # horizontal-gradient dHash runs in Arrow mapInPandas (numpy over
    # whole pixel buffers), and near-dup pairs come from the banded
    # Hamming join (Manku WWW'07 pigeonhole: 4 bands of 14 bits give
    # 100% recall at hamming <= 3). Payload bytes are the rpad'd ASCII
    # text, so the ENTIRE pipeline — netpbm header parse included — has
    # a bit-exact SQL oracle; every planted twin lands at hamming <= 1
    # and the corpus's planted exact-dup texts surface at hamming 0.
    from iowa_liquor_sales_spark.multimodal.binary_ops import (
        dhash_hamming_pairs,
        image_dhash,
    )

    # ASCII-only projection FIRST: the engine parses pixel values from
    # UTF-8 payload BYTES while the SQL oracle reads codepoints via
    # ascii(substr(...)) — identical only when every char is ASCII.
    # Stripping non-printable-ASCII here (and identically in the
    # oracle) makes that a guaranteed invariant of the query instead of
    # a property of today's generated corpus.
    base = read_table(spark, sf, "documents").select(
        "doc_id",
        F.rpad(
            F.regexp_replace("text", r"[^\x20-\x7E]", ""), 384, "x"
        ).alias("s"),
    )
    assets = base.select(
        (F.col("doc_id") * 2).alias("doc_id"), "s"
    ).unionAll(
        base.select(
            (F.col("doc_id") * 2 + 1).alias("doc_id"),
            F.concat(
                F.substring("s", 1, 4), F.lit("z"), F.substring("s", 6, 379)
            ).alias("s"),
        )
    )
    ppm = assets.select(
        "doc_id",
        F.concat(
            F.lit("P6\n# near-dup probe\n16 8\n255\n").cast("binary"),
            F.col("s").cast("binary"),
        ).alias("payload"),
    )
    hashes = image_dhash(ppm, grid_w=8, grid_h=8)
    return dhash_hamming_pairs(hashes, bits=56, bands=4, max_hamming=3)


def q_ppm_zlib_decode(spark: SparkSession, sf: str) -> DataFrame:
    # Compressed-container decode, stdlib-only (multimodal/binary_ops
    # codec="zppm"): each document becomes a real 16x8 binary PPM, the
    # WHOLE file is zlib-deflated in an Arrow pandas_udf
    # (zlib_compress_payloads), and the dHash pipeline decodes it back
    # through decompress -> netpbm header parse -> integer grayscale ->
    # exact area-pool -> 56-bit gradient hash. The oracle computes the
    # same dhash straight from the TEXT — so the zlib round-trip must
    # reproduce every pixel bit-for-bit to hash-match, which makes this
    # the in-sandbox, oracle-checked exercise of the compressed-decode
    # arm (the PIL arm for JPEG/PNG shares the identical (w,h,rgb)
    # contract and stays skipif-gated where PIL is absent — round-8
    # verdict item 8).
    from iowa_liquor_sales_spark.multimodal.binary_ops import (
        image_dhash,
        zlib_compress_payloads,
    )

    base = read_table(spark, sf, "documents").select(
        "doc_id",
        F.rpad(
            F.regexp_replace("text", r"[^\x20-\x7E]", ""), 384, "x"
        ).alias("s"),
    )
    ppm = base.select(
        "doc_id",
        F.concat(
            F.lit("P6\n# zppm probe\n16 8\n255\n").cast("binary"),
            F.col("s").cast("binary"),
        ).alias("payload"),
    )
    return image_dhash(
        zlib_compress_payloads(ppm), grid_w=8, grid_h=8, codec="zppm"
    )


def q_bh_fdr(spark: SparkSession, sf: str) -> DataFrame:
    # Benjamini-Hochberg FDR over per-user activity anomaly tests
    # (operators/quality.bh_fdr): one hypothesis per user, p-value =
    # the distribution-free Chebyshev bound P(|X-mu| >= dev) <=
    # var/dev^2 on the user's event count vs the population — exact
    # integer arithmetic end-to-end (the m^2 grid cancels in the
    # var/dev^2 ratio; DECIMAL(38,0)/HUGEINT products so nothing wraps
    # at any scale). On this well-behaved synthetic corpus BH correctly
    # rejects nothing (conservative p-values, uniform data) — the
    # planted-signal step-up mechanics are pytest-proven; the driver
    # checks the exact p_ppm / rank / cutoff arithmetic.
    from iowa_liquor_sales_spark.operators.quality import bh_fdr

    ev = read_table(spark, sf, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = c.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("tot2"),
    )
    hyp = c.join(F.broadcast(stats)).select(
        "user_id",
        F.expr(
            "CASE WHEN n * m - tot = 0 THEN 1000000 ELSE least(1000000,"
            " CAST((CAST(m AS DECIMAL(38,0)) * tot2 - CAST(tot AS"
            " DECIMAL(38,0)) * tot) * 1000000"
            " div ((CAST(n AS DECIMAL(38,0)) * m - tot)"
            " * (CAST(n AS DECIMAL(38,0)) * m - tot)) AS BIGINT)) END"
        ).alias("p_ppm"),
    )
    return bh_fdr(hyp, "user_id", "p_ppm", alpha_ppm=100_000)


def q_ann_prebuilt(spark: SparkSession, sf: str) -> DataFrame:
    # ANN index lifecycle (similarity.build_ann_index/load_ann_index):
    # train the IVF quantizer ONCE, persist centroids + cell-PARTITIONED
    # assignments, then answer the top-k query from the prebuilt index —
    # the FAISS train/add/search split every production corpus uses
    # instead of the in-query training the oracle-checkable forms
    # inline. Results are bit-identical to q_ann_ivf's in-query path by
    # construction (pytest test_prebuilt_index_bit_identical), so the
    # oracle is the same coarse-quantize/probe/scan SQL; nprobe=2 widens
    # the probe set so the prebuilt probe ranking is exercised too.
    from iowa_liquor_sales_spark.operators.similarity import (
        build_ann_index,
        ivf_topk,
        load_ann_index,
    )

    emb = read_table(spark, sf, "embeddings")
    path = tempfile.mkdtemp(prefix="iowa_ann_idx_") + "/ann"
    build_ann_index(emb, path, n_cells=16)
    idx = load_ann_index(spark, path)
    return ivf_topk(emb, query_id=7, k=10, nprobe=2, index=idx).select(
        "vec_id", "rnk"
    )


def q_ann_assign_delta(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental ANN ingest (similarity.assign_new_vectors): new
    # vectors are placed into a prebuilt index's cells against the
    # FROZEN stored centroids — one broadcast argmax over O(n_cells)
    # rows, no retrain, no base-corpus scan; the delta appends straight
    # into the index's cell partitions (the ANN half of the incremental
    # pattern whose join half is upsert.join_view_delta). The oracle
    # assigns the same delta against the same first-16 quantizer.
    from iowa_liquor_sales_spark.operators.similarity import (
        assign_new_vectors,
        build_ann_index,
    )

    emb = read_table(spark, sf, "embeddings")
    is_delta = (F.col("vec_id") % 7 == 3) & (F.col("vec_id") >= 16)
    path = tempfile.mkdtemp(prefix="iowa_ann_delta_") + "/ann"
    idx = build_ann_index(emb.filter(~is_delta), path, n_cells=16)
    return assign_new_vectors(emb.filter(is_delta), idx).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )


def q_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    # Zipf's-law fit over the top-100 corpus unigrams (text.zipf_slope):
    # OLS of ln(freq) on ln(rank), both gridded to the integer 1e-6 ln
    # convention so the regression sums are exact DECIMAL(38,0) and the
    # slope/intercept land via truncating div (Spark div == DuckDB //).
    # One corpus-sized token count + a distributed top-k; the regression
    # itself runs on 100 rows.
    from iowa_liquor_sales_spark.operators.text import zipf_slope

    return zipf_slope(read_table(spark, sf, "documents"), top_n=100)


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    # Per-document novel-shingle ratio in corpus order (text.
    # ngram_novelty): min(doc_id) per 3-gram shingle, joined back —
    # "how much genuinely new content does each doc add", near-dups
    # score ~0. Same shingle relation + df-join shape as TF-IDF.
    from iowa_liquor_sales_spark.operators.text import ngram_novelty

    return ngram_novelty(read_table(spark, sf, "documents"), n=3)


def q_spearman_global(spark: SparkSession, sf: str) -> DataFrame:
    # Spearman rank correlation of quantity vs extended price
    # (aggregates.spearman_corr): tie-corrected average ranks from
    # DISTRIBUTED prefix sums over each column's O(distinct) count
    # relation (ranking.global_cumsum — no row-level window anywhere),
    # then exact-decimal Pearson moments with one final double sqrt on
    # the ppb grid.
    from iowa_liquor_sales_spark.operators.aggregates import spearman_corr

    return spearman_corr(
        read_table(spark, sf, "lineitem"), "l_quantity", "l_extendedprice"
    )


def q_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    # Mann-Whitney U / Wilcoxon rank-sum between English and Chinese
    # docs' lengths (quality.mann_whitney_u): tie-corrected average
    # ranks from a DISTRIBUTED prefix sum over the combined O(distinct)
    # value relation (ranking.global_cumsum — no row-level window),
    # doubled-integer U exact in DECIMAL(38,0), one double sqrt for the
    # normal-approximation z on the ppm grid.
    from iowa_liquor_sales_spark.operators.quality import mann_whitney_u

    return mann_whitney_u(
        read_table(spark, sf, "documents"), "n_chars", "lang", "en", "zh"
    )


def q_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Two-sample Kolmogorov-Smirnov drift statistic between English and
    # Spanish docs' length distributions (quality.ks_two_sample): two
    # distributed prefix sums over the distinct-value relation, ECDF
    # difference cross-multiplied to exact integers, max + smallest
    # argmax — D on the ppm grid via truncating div.
    from iowa_liquor_sales_spark.operators.quality import ks_two_sample

    return ks_two_sample(
        read_table(spark, sf, "documents"), "n_chars", "lang", "en", "es"
    ).select(
        "n_a", "n_b", "ks_ppm", F.col("ks_at").cast("long").alias("ks_at")
    )


def q_chi2_source_lang(spark: SparkSession, sf: str) -> DataFrame:
    # Chi-squared independence of source x language + Cramer's V
    # (quality.chi2_independence): everything reduces to the O(r*c)
    # contingency relation; per-cell terms are exact integers on a 1e12
    # grid (truncating div == DuckDB //), one double sqrt for V.
    from iowa_liquor_sales_spark.operators.quality import chi2_independence

    return chi2_independence(
        read_table(spark, sf, "documents"), "source", "lang"
    )


def q_gini_chars(spark: SparkSession, sf: str) -> DataFrame:
    # Gini coefficient of character mass across documents
    # (aggregates.gini_concentration): grouped-distinct rank-sum with a
    # distributed prefix sum for the cumulative count — tie-invariant,
    # exact DECIMAL(38,0), ppm grid.
    from iowa_liquor_sales_spark.operators.aggregates import (
        gini_concentration,
    )

    return gini_concentration(read_table(spark, sf, "documents"), "n_chars")


def q_dup_rate_curve(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-level duplicate-mass vs shingle size (text.dup_rate_curve):
    # per n one explode + exact distinct aggregate; five one-row results
    # union — the knob-setting curve for the dedup family.
    from iowa_liquor_sales_spark.operators.text import dup_rate_curve

    return dup_rate_curve(read_table(spark, sf, "documents"))


def q_interleave_order(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic source-interleaved training order
    # (curation.interleave_by_source): ONE distributed global rank over
    # (source, hash, id) — never a per-source window, whose modal-source
    # task inherits the corpus skew — then within-source positions via
    # an O(sources) first-rank join and a strided round-robin order key.
    from iowa_liquor_sales_spark.operators.curation import (
        interleave_by_source,
    )

    return interleave_by_source(
        read_table(spark, sf, "documents")
    ).select(F.col("id").alias("doc_id"), "source", "pos", "order_key")


def q_kruskal_wallis(spark: SparkSession, sf: str) -> DataFrame:
    # Kruskal-Wallis H across the five language slices' doc lengths
    # (quality.kruskal_wallis): tie-averaged doubled ranks from the
    # distributed prefix sum, per-group rank-sums exact DECIMAL(38,0),
    # the irreducible R_g^2/n_g fractions on a 1e6 truncating-div grid
    # (== DuckDB //), H + tie correction in one double expression.
    from iowa_liquor_sales_spark.operators.quality import kruskal_wallis

    return kruskal_wallis(
        read_table(spark, sf, "documents"), "n_chars", "lang"
    )


def q_anova_f(spark: SparkSession, sf: str) -> DataFrame:
    # One-way ANOVA F across language slices (quality.anova_f): one
    # grouped moment aggregate (sum/sumsq/count, exact decimals), O(k)
    # rollup, S_g^2/n_g on the 1e6 truncating-div grid, F in double on
    # the ppm grid.
    from iowa_liquor_sales_spark.operators.quality import anova_f

    return anova_f(read_table(spark, sf, "documents"), "n_chars", "lang")


def q_levene(spark: SparkSession, sf: str) -> DataFrame:
    # Brown-Forsythe variance-homogeneity test (quality.levene_bf):
    # ANOVA on DOUBLED absolute deviations from group medians (doubling
    # keeps half-integer medians exact in int64; F is scale-invariant).
    from iowa_liquor_sales_spark.operators.quality import levene_bf

    return levene_bf(read_table(spark, sf, "documents"), "n_chars", "lang")


def q_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    # Simplified (centroid) silhouette per label over the embedding
    # corpus (similarity.silhouette_labels): e6-grid integer centroids,
    # division-free exact distance numerators ||n*x - s||^2, one double
    # ratio per point floored to ppm, integer-div label means.
    from iowa_liquor_sales_spark.operators.similarity import (
        silhouette_labels,
    )

    return silhouette_labels(read_table(spark, sf, "embeddings"))


def q_readability(spark: SparkSession, sf: str) -> DataFrame:
    # Flesch Reading Ease per document (text.readability_flesch):
    # word / sentence / vowel-group counts in pure Catalyst string
    # expressions (zero shuffle), score exact on the milli grid via one
    # DECIMAL(38,0) truncating division — the classic curation-side
    # readability feature.
    from iowa_liquor_sales_spark.operators.text import readability_flesch

    return readability_flesch(read_table(spark, sf, "documents"))


def q_rake_keywords(spark: SparkSession, sf: str) -> DataFrame:
    # RAKE corpus keywords (text.rake_keywords): stopword/punctuation-
    # delimited candidate phrases, word degree/freq scores on the milli
    # grid BEFORE the phrase sum (no float accumulation), distributed
    # top-50.
    from iowa_liquor_sales_spark.operators.text import rake_keywords

    return rake_keywords(read_table(spark, sf, "documents"), top_n=50)


def q_jsd_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Per-source Jensen-Shannon drift vs the corpus unigram
    # distribution (text.jsd_source_drift): add-1 smoothing over the
    # joint vocabulary, per-term contributions rounded to exact 1e9
    # integers before the sum (the term_kl_divergence convention), a
    # vocab x sources dense grid built via broadcast of the O(sources)
    # relation.
    from iowa_liquor_sales_spark.operators.text import jsd_source_drift

    return jsd_source_drift(read_table(spark, sf, "documents"))


def q_friedman(spark: SparkSession, sf: str) -> DataFrame:
    # Friedman rank test: does doc length differ by LANGUAGE when
    # blocking on SOURCE (quality.friedman_test)? Complete blocks only;
    # tie-corrected doubled ranks inside an O(k)-row per-block window
    # (bounded by the treatment count, not the data); Q exact-integer
    # on the ppm grid.
    from iowa_liquor_sales_spark.operators.quality import friedman_test

    return friedman_test(
        read_table(spark, sf, "documents"), "source", "lang", "n_chars"
    )


def q_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    # NDCG@10 of the embedding space against its labels
    # (similarity.ndcg_at_k): exact int64 squared-L2 ranking per
    # broadcast anchor, log2 position gains gridded to 1e6 integers
    # BEFORE the DCG/IDCG sums, one truncating division per anchor.
    from iowa_liquor_sales_spark.operators.similarity import ndcg_at_k

    return ndcg_at_k(read_table(spark, sf, "embeddings"), n_queries=8, k=10)


def q_dbscan_grid(spark: SparkSession, sf: str) -> DataFrame:
    # Grid-blocked DBSCAN (clustering.grid_dbscan) over deterministic
    # 2-D integer points synthesized from customer keys (the geo-query
    # convention): 20x20 cluster centers 50 apart with spread < 8, so
    # eps=10/min_pts=4 separates core/border/noise cleanly. The
    # neighbor join is an equi-join on eps-grid cells (3x3 neighborhood
    # explode — constant fanout, never all-pairs); clusters are the
    # shared pointer-jumping CC over core-core edges.
    from iowa_liquor_sales_spark.operators.clustering import grid_dbscan

    # Every 11th key is a "straggler" offset +10 from its center — too
    # sparse to be core, within eps of the center's points: the BORDER
    # case (everything at an undersized center is NOISE).
    pts = read_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            (F.col("c_custkey") % 20) * 50
            + F.when(F.col("c_custkey") % 11 == 0, 10).otherwise(
                (F.col("c_custkey") * 7) % 8
            )
        )
        .cast("long")
        .alias("x"),
        (((F.col("c_custkey") * 13) % 20) * 50 + (F.col("c_custkey") * 11) % 8)
        .cast("long")
        .alias("y"),
    )
    return grid_dbscan(pts, eps=10, min_pts=4)


def q_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    # t-closeness audit (quality.t_closeness_audit — implemented in
    # round 4, wired to the oracle gate here): per (nation, segment) QI
    # class, the EMD between the class's ordered balance-bucket
    # distribution and the global one, cross-multiplied to exact
    # integers on the ppm grid. Completes the privacy-audit trio after
    # q_k_anonymity / q_l_diversity (skewness attack: a class can be
    # k-anonymous AND l-diverse while its sensitive distribution leaks).
    from iowa_liquor_sales_spark.operators.quality import (
        t_closeness_audit,
    )

    c = read_table(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.round(F.col("c_acctbal")).cast("long") % 10).alias("bal_bucket"),
    )
    return t_closeness_audit(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket"
    )


def q_harmonic_centrality(spark: SparkSession, sf: str) -> DataFrame:
    # Harmonic closeness from 4 seed nodes over the q_bfs_hops graph
    # (graph.harmonic_centrality): ONE multi-seed BFS — the distance
    # relation is keyed (seed, node) so all seeds ride the same
    # frontier⋈edges equi-join per round; 1/d terms exact on the 1e6
    # truncating-div grid.
    from iowa_liquor_sales_spark.operators.graph import (
        harmonic_centrality,
    )

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
    )
    return harmonic_centrality(edges, sources=[0, 1, 2, 3], rounds=3)


def q_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    # Degree assortativity (graph.degree_assortativity) of the
    # customer/order bipartite projection: Pearson over endpoint
    # degrees, exact DECIMAL(38,0) moments, ONE double sqrt floored to
    # ppb. Bipartite graphs are canonically DISassortative — the sign
    # is the sanity check.
    from iowa_liquor_sales_spark.operators.graph import (
        degree_assortativity,
    )

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 4000).alias("src"),
        ((F.col("o_orderkey") % 6000) + 4000).alias("dst"),
    )
    return degree_assortativity(edges)


def q_modularity(spark: SparkSession, sf: str) -> DataFrame:
    # Newman modularity Q (graph.modularity_q) of a deterministic
    # node%8 partition over the bipartite projection: exact-integer
    # form Σ(mc2·M − d_c²)/M² on the ppm grid. An arbitrary partition
    # of a near-random graph scores ~0 — the value IS the null check;
    # the computation is the point (real callers pass CC/LPA labels).
    from iowa_liquor_sales_spark.operators.graph import modularity_q

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 4000).alias("src"),
        ((F.col("o_orderkey") % 6000) + 4000).alias("dst"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.col("node") % 8).alias("community"))
    )
    return modularity_q(edges, nodes)


def q_cohens_kappa(spark: SparkSession, sf: str) -> DataFrame:
    # Cohen's kappa between the gold `lang` label and the stopword-
    # profile lang_id prediction (quality.cohens_kappa): agreement
    # beyond chance from exact integer marginal cross-products, ppm
    # grid. On the shared-vocabulary synthetic corpus kappa ~ 0 — the
    # honest "heuristic can't see these labels" read.
    from iowa_liquor_sales_spark.operators.quality import cohens_kappa
    from iowa_liquor_sales_spark.operators.text import lang_id

    docs = read_table(spark, sf, "documents")
    pred = lang_id(docs).select("doc_id", "pred_lang")
    return cohens_kappa(
        docs.select("doc_id", "lang").join(pred, "doc_id"),
        "lang",
        "pred_lang",
    )


def q_mcc(spark: SparkSession, sf: str) -> DataFrame:
    # Matthews correlation of a length-threshold classifier predicting
    # the 'en' label (quality.mcc_binary): exact integer confusion
    # counts, one double sqrt per marginal at the end, ppb floor.
    from iowa_liquor_sales_spark.operators.quality import mcc_binary

    d = read_table(spark, sf, "documents").select(
        (F.col("lang") == "en").alias("y"),
        (F.col("n_chars") >= 500).alias("p"),
    )
    return mcc_binary(d, "y", "p")


def q_theil_u(spark: SparkSession, sf: str) -> DataFrame:
    # Theil's uncertainty coefficient U(lang | source)
    # (quality.theil_u): plug-in entropies from the O(r·c) contingency,
    # per-term 1e9 rounding before the sums (term_kl convention), U on
    # the ppm truncating-div grid.
    from iowa_liquor_sales_spark.operators.quality import theil_u

    return theil_u(read_table(spark, sf, "documents"), "lang", "source")


def q_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    # Maximum drawdown per event type of the centered cumulative value
    # series (temporal.max_drawdown): two stacked windows over the same
    # (type, ts, id) order — running sum, running max — on exact
    # integer cents; the worst peak-to-trough dip a metric monitor
    # reports.
    from iowa_liquor_sales_spark.operators.temporal import max_drawdown

    ev = read_table(spark, sf, "events").select(
        "event_type",
        "ts",
        "event_id",
        (
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            - 10000
        ).alias("v"),
    )
    return max_drawdown(ev, "event_type", "ts", "v", tie_col="event_id")


def q_decayed_topk(spark: SparkSession, sf: str) -> DataFrame:
    # Freshness-weighted user leaderboard (temporal.decayed_topk):
    # per-event value·2^(−age_days/7) rounded to the integer 1e6 grid
    # BEFORE the per-user sum (partition-order deterministic), top-20
    # via TakeOrderedAndProject.
    from iowa_liquor_sales_spark.operators.temporal import decayed_topk

    return decayed_topk(
        read_table(spark, sf, "events"),
        "user_id",
        "ts",
        "value",
        half_life_days=7,
        k=20,
    )


def q_cronbach(spark: SparkSession, sf: str) -> DataFrame:
    # Cronbach's alpha over three length-family "items" per document
    # (quality.cronbach_alpha): chars/100, whitespace tokens/20, regex
    # tokens/20 — deliberately correlated sub-scores, so alpha lands
    # high; all moments exact DECIMAL(38,0) in ONE scan, alpha via
    # truncating div on the ppm grid.
    from iowa_liquor_sales_spark.operators.quality import cronbach_alpha
    from iowa_liquor_sales_spark.operators.text import TOKEN_PATTERN

    d = read_table(spark, sf, "documents").select(
        F.expr("n_chars div 100").alias("i1"),
        F.expr("size(split(text, ' ')) div 20").alias("i2"),
        (
            F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN)).cast("long")
        ).alias("_rt"),
    ).select("i1", "i2", F.expr("_rt div 20").alias("i3"))
    return cronbach_alpha(d, ["i1", "i2", "i3"])


def q_dedup_cascade(spark: SparkSession, sf: str) -> DataFrame:
    # The three-stage dedup funnel as one composed report
    # (curation.dedup_cascade_report): exact md5 -> normalized md5 ->
    # exact-Jaccard near-dup CC, each stage on the previous stage's
    # survivors only — the per-batch yield report a curation pipeline
    # publishes. Oracle replays all three rungs including the
    # recursive-CTE transitive closure.
    from iowa_liquor_sales_spark.operators.curation import (
        dedup_cascade_report,
    )

    docs = read_table(spark, sf, "documents")
    cap = max(1, int(0.05 * docs.count()))
    return dedup_cascade_report(docs, max_df=cap)


def q_sax_words(spark: SparkSession, sf: str) -> DataFrame:
    # SAX symbolization of each event type's value series
    # (temporal.sax_words): PAA into 8 segments, 4-letter equal-width
    # alphabet — all exact integer arithmetic (the z-normalized
    # Gaussian-breakpoint variant is float-land; the integer variant
    # is the bit-portable house form). Per-type windows bounded by
    # series length.
    from iowa_liquor_sales_spark.operators.temporal import sax_words

    ev = read_table(spark, sf, "events").select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return sax_words(
        ev, "event_type", "ts", "cents", w=8, alphabet=4,
        tie_col="event_id",
    )


def q_lift_table(spark: SparkSession, sf: str) -> DataFrame:
    # Cumulative gains/lift deciles of doc length predicting the 'en'
    # label (quality.lift_table): global rank from the DISTRIBUTED
    # ranker (range shuffle + offsets — never a 1-partition window over
    # data rows; the only window is over the O(10) bin relation), exact
    # DECIMAL cross-products for gain/lift ppm.
    from iowa_liquor_sales_spark.operators.quality import lift_table

    d = read_table(spark, sf, "documents").select(
        "doc_id", "n_chars", (F.col("lang") == "en").alias("y")
    )
    return lift_table(d, "n_chars", "y", "doc_id", n_bins=10)


def q_ece(spark: SparkSession, sf: str) -> DataFrame:
    # Expected Calibration Error of doc length "predicting" the 'en'
    # label (quality.expected_calibration_error): one exact integer
    # aggregate over the reliability diagram's ppm-gridded O(n_bins)
    # stats — the per-retrain gate number whose drill-down is
    # q_reliability.
    from iowa_liquor_sales_spark.operators.quality import (
        expected_calibration_error,
    )

    d = read_table(spark, sf, "documents").select(
        "n_chars", (F.col("lang") == "en").alias("y")
    )
    return expected_calibration_error(d, "n_chars", "y", n_bins=10)


def q_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    # Out-of-vocabulary rate of each held-out doc vs the 80% train
    # split's vocabulary (text.oov_rate): content-keyed hash carve,
    # O(vocab) distinct, token-keyed left join (the TF-IDF-family skew
    # posture) — "how much of eval becomes <unk>".
    from iowa_liquor_sales_spark.operators.text import oov_rate

    return oov_rate(read_table(spark, sf, "documents"))


def q_moments(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language higher-moment report of doc lengths
    # (aggregates.moments_report): exact DECIMAL(38,0) power sums in
    # one pass; mean/variance by truncating division; skewness and
    # excess kurtosis through the det_double hi/lo split + fixed-shape
    # double formula, floor-scaled — the distribution-shape monitor.
    from iowa_liquor_sales_spark.operators.aggregates import (
        moments_report,
    )

    return moments_report(
        read_table(spark, sf, "documents"), "n_chars", "lang"
    )


def q_mantel_haenszel(spark: SparkSession, sf: str) -> DataFrame:
    # Mantel-Haenszel pooled odds ratio of (long doc | English) across
    # source strata (quality.mantel_haenszel_or): per-stratum 2x2
    # terms rounded to exact 1e6 integers before pooling; the
    # confounder-adjusted sibling of q_chi2_source_lang.
    from iowa_liquor_sales_spark.operators.quality import (
        mantel_haenszel_or,
    )

    d = read_table(spark, sf, "documents").select(
        "source",
        (F.col("lang") == "en").alias("e"),
        (F.col("n_chars") >= 500).alias("o"),
    )
    return mantel_haenszel_or(d, "source", "e", "o")


def q_ljung_box(spark: SparkSession, sf: str) -> DataFrame:
    # Ljung-Box white-noise Q per event type over lags 1-3
    # (temporal.ljung_box): defined on the ppb-gridded ACF — each rho²
    # term an exact integer truncating division by (n-k), Q on the ppm
    # grid via one DECIMAL(38,0) division. The residual diagnostic
    # layered on q_acf's machinery.
    from iowa_liquor_sales_spark.operators.temporal import ljung_box

    return ljung_box(
        read_table(spark, sf, "events"),
        key_col="event_type",
        order_col="event_id",
        value_col="value",
    )


def q_lorenz(spark: SparkSession, sf: str) -> DataFrame:
    # Lorenz curve of character mass across documents by decile
    # (aggregates.lorenz_deciles): the drill-down behind q_gini_chars —
    # global rank via the distributed ranker, O(10) everything after,
    # exact DECIMAL cross-multiplied shares.
    from iowa_liquor_sales_spark.operators.aggregates import (
        lorenz_deciles,
    )

    return lorenz_deciles(
        read_table(spark, sf, "documents"), "n_chars", "doc_id"
    )


def q_logrank(spark: SparkSession, sf: str) -> DataFrame:
    # Two-group log-rank (Mantel-Cox) test on the q_kaplan_meier
    # survival setup (quality.logrank_test): do high-priority orders
    # ship on a different delay curve? Administrative censoring at 45
    # days; per-event-time O-E and variance terms on exact 1e6 grids
    # before pooling; the at-risk machinery runs on the O(groups x 46)
    # time-domain relation, never data rows.
    from iowa_liquor_sales_spark.operators.quality import logrank_test

    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    dur = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.least(dur, F.lit(45)).alias("t"),
        (dur < 45).alias("e"),
        (F.col("o_orderpriority") < "3").alias("g"),
    )
    return logrank_test(d, "t", "e", "g")


def q_by_fdr(spark: SparkSession, sf: str) -> DataFrame:
    # Benjamini-Yekutieli FDR (quality.by_fdr) over the SAME Chebyshev
    # per-user hypotheses as q_bh_fdr — the arbitrary-dependence
    # step-up: threshold shrinks by the harmonic c(m) on the 1e9 grid
    # (computed once from the 1-row count, never per hypothesis),
    # DECIMAL(38,0) cross-multiplied criterion.
    from iowa_liquor_sales_spark.operators.quality import by_fdr

    ev = read_table(spark, sf, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stats = c.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("tot2"),
    )
    hyp = c.join(F.broadcast(stats)).select(
        "user_id",
        F.expr(
            "CASE WHEN n * m - tot = 0 THEN 1000000 ELSE least(1000000,"
            " CAST((CAST(m AS DECIMAL(38,0)) * tot2 - CAST(tot AS"
            " DECIMAL(38,0)) * tot) * 1000000"
            " div ((CAST(n AS DECIMAL(38,0)) * m - tot)"
            " * (CAST(n AS DECIMAL(38,0)) * m - tot)) AS BIGINT)) END"
        ).alias("p_ppm"),
    )
    return by_fdr(hyp, "user_id", "p_ppm", alpha_ppm=100_000)


def q_lsh_plan(spark: SparkSession, sf: str) -> DataFrame:
    # MinHash-LSH band-planning table (dedup.lsh_band_plan): every
    # (bands, rows) factorization of a 128-hash signature with its
    # (1/b)^(1/r) S-curve threshold on the e6 floor grid, and the plan
    # closest to a 0.5 target flagged — the pre-flight knob calculator
    # for minhash_lsh_pairs, companion to the measured calibration
    # report.
    from iowa_liquor_sales_spark.operators.dedup import lsh_band_plan

    return lsh_band_plan(
        spark, n_hashes=128, target_jaccard_ppm=500_000
    )


def q_kendall_tau(spark: SparkSession, sf: str) -> DataFrame:
    # Kendall tau-b between order-line quantity and line number
    # (aggregates.kendall_tau_b): the pair counting never touches row
    # pairs — one groupBy collapses to the O(50x7) contingency-cell
    # relation, concordant/discordant mass is a broadcast nested-loop
    # quadrant sum over CELL pairs, exact DECIMAL(38,0) throughout,
    # one double sqrt per tie factor on the ppb grid.
    from iowa_liquor_sales_spark.operators.aggregates import kendall_tau_b

    return kendall_tau_b(
        read_table(spark, sf, "lineitem"), "l_quantity", "l_linenumber"
    )


def q_wasserstein(spark: SparkSession, sf: str) -> DataFrame:
    # 1-D earth-mover's distance between English and Spanish doc-length
    # distributions (quality.wasserstein_1d): the drift metric that
    # weighs HOW FAR mass moved, unlike KS's worst-gap. Grouped-first:
    # the CDF cross-difference runs over the O(distinct) support
    # relation, exact DECIMAL(38,0), ppm truncating div.
    from iowa_liquor_sales_spark.operators.quality import wasserstein_1d

    return wasserstein_1d(
        read_table(spark, sf, "documents"), "n_chars", "lang", "en", "es"
    )


def q_effect_sizes(spark: SparkSession, sf: str) -> DataFrame:
    # Standardized effect sizes en-vs-es doc length (quality.
    # effect_sizes): Cohen's d / Hedges' g from one exact integer-
    # moment pass, Cliff's delta from strict-below/above prefix sums
    # over the O(distinct) support relation — the "is the difference
    # MEANINGFUL" companion to the significance tests, which at corpus
    # scale reject everything.
    from iowa_liquor_sales_spark.operators.quality import effect_sizes

    return effect_sizes(
        read_table(spark, sf, "documents"), "n_chars", "lang", "en", "es"
    )


def q_cochran_armitage(spark: SparkSession, sf: str) -> DataFrame:
    # Cochran-Armitage trend test: does the return-flag rate trend
    # with line number (quality.cochran_armitage)? Spends its single
    # degree of freedom on the LINEAR trend the plain chi-squared
    # ignores; everything reduces to the O(#doses) contingency
    # relation, exact DECIMAL(38,0), one double sqrt on the ppm grid.
    from iowa_liquor_sales_spark.operators.quality import cochran_armitage

    li = read_table(spark, sf, "lineitem").select(
        "l_linenumber", (F.col("l_returnflag") == "R").alias("is_r")
    )
    return cochran_armitage(li, "l_linenumber", "is_r")


def q_mcnemar(spark: SparkSession, sf: str) -> DataFrame:
    # McNemar's paired test between two length-threshold classifiers
    # predicting the 'en' label on the SAME docs (quality.mcnemar_test):
    # the paired-eval significance check whose information is entirely
    # in the discordant counts; pure-integer statistic on the ppm grid.
    from iowa_liquor_sales_spark.operators.quality import mcnemar_test

    d = read_table(spark, sf, "documents").select(
        (F.col("lang") == "en").alias("y"),
        (F.col("n_chars") >= 500).alias("pa"),
        (F.col("n_chars") >= 800).alias("pb"),
    )
    return mcnemar_test(d, "y", "pa", "pb")


def q_durbin_watson(spark: SparkSession, sf: str) -> DataFrame:
    # Durbin-Watson lag-1 serial-correlation diagnostic per event type
    # (temporal.durbin_watson): one hash-partitioned per-key window lag
    # + one combinable aggregate; residuals cleared of the mean by
    # scaling with n so every term stays exact DECIMAL(38,0); ppm
    # truncating div. The single-number companion to q_ljung_box.
    from iowa_liquor_sales_spark.operators.temporal import durbin_watson

    return durbin_watson(
        read_table(spark, sf, "events"), "event_type", "event_id", "value"
    ).withColumnRenamed("event_type", "etype")


def q_target_encode(spark: SparkSession, sf: str) -> DataFrame:
    # Leakage-free out-of-fold target encoding of order priority by
    # mean order value (curation.target_encode_oof): folds from the
    # engine-portable md5 hash of the order key, per-(cat, fold) sums
    # in one combinable pass, OOF mean = (total - own fold) on the
    # cents truncating-div grid — the classic "don't let the row see
    # its own label" encoder for training pipelines.
    from iowa_liquor_sales_spark.operators.curation import target_encode_oof

    return target_encode_oof(
        read_table(spark, sf, "orders"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        n_folds=5,
    )


def q_randomization_test(spark: SparkSession, sf: str) -> DataFrame:
    # Randomization (approximate permutation) test of the en-vs-es
    # mean doc-length difference (quality.randomization_test): 100
    # pseudo-assignments from the engine-portable md5 hash of
    # (doc_id, replicate), each replicate's statistic compared to the
    # observed one by cross-multiplied integer sums — the
    # distribution-free p-value with no variance formula. The explode
    # collapses through a map-side-combinable groupBy(rep), so the
    # shuffle carries O(n_reps) rows per task.
    from iowa_liquor_sales_spark.operators.quality import randomization_test

    return randomization_test(
        read_table(spark, sf, "documents"),
        "n_chars",
        "lang",
        "en",
        "es",
        id_col="doc_id",
        n_reps=100,
    )


def q_dp_mean(spark: SparkSession, sf: str) -> DataFrame:
    # Differential-privacy mean release of doc length per source
    # (quality.dp_noisy_mean): clip to [0, 2000], Laplace-noised sum
    # (eps/2) over Laplace-noised count (eps/2) — the budget-split mean
    # mechanism, with the same LOUD determinism caveat as
    # q_dp_histogram (hash-derived noise = testable, NOT private; swap
    # in a true RNG for production).
    from iowa_liquor_sales_spark.operators.quality import dp_noisy_mean

    return dp_noisy_mean(
        read_table(spark, sf, "documents"),
        ["source"],
        "n_chars",
        clip_lo=0,
        clip_hi=2000,
        epsilon=1.0,
    )


def q_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # Neighborhood-Jaccard link prediction over the same bipartite
    # customer/order projection as q_adamic_adar (graph.
    # neighbor_jaccard): the size-invariant companion score — common
    # neighbors over the union of neighborhoods, computed from the
    # wedge self-join (O(sum deg^2), never all-pairs; max_deg prunes
    # hub middles) with a pure-integer ppm score.
    from iowa_liquor_sales_spark.operators.graph import neighbor_jaccard

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 4000).alias("src"),
        ((F.col("o_orderkey") % 6000) + 4000).alias("dst"),
    )
    return neighbor_jaccard(edges, max_deg=300, min_common=2)



def q_map_mrr(spark: SparkSession, sf: str) -> DataFrame:
    # MAP@10 and MRR@10 of the embedding space against its labels
    # (similarity.map_mrr_at_k): the recall-oriented and first-hit IR
    # eval numbers next to q_ndcg — same broadcast-anchor exact-L2
    # dataflow, per-term precision on the (cum_rel*1e6) div r integer
    # grid, pure-integer reciprocal rank.
    from iowa_liquor_sales_spark.operators.similarity import map_mrr_at_k

    return map_mrr_at_k(
        read_table(spark, sf, "embeddings"), n_queries=8, k=10
    )


def q_holm(spark: SparkSession, sf: str) -> DataFrame:
    # Holm-Bonferroni step-DOWN FWER control (quality.holm_bonferroni)
    # over the SAME Chebyshev per-user hypotheses as q_bh_fdr/q_by_fdr
    # — rejects the maximal PREFIX of the p-sorted list where every
    # p_(i) <= alpha/(m-i+1); all-integer step-down over the O(m)
    # hypothesis relation.
    from iowa_liquor_sales_spark.operators.quality import holm_bonferroni

    ev = read_table(spark, sf, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stats = c.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("tot2"),
    )
    hyp = c.join(F.broadcast(stats)).select(
        "user_id",
        F.expr(
            "CASE WHEN n * m - tot = 0 THEN 1000000 ELSE least(1000000,"
            " CAST((CAST(m AS DECIMAL(38,0)) * tot2 - CAST(tot AS"
            " DECIMAL(38,0)) * tot) * 1000000"
            " div ((CAST(n AS DECIMAL(38,0)) * m - tot)"
            " * (CAST(n AS DECIMAL(38,0)) * m - tot)) AS BIGINT)) END"
        ).alias("p_ppm"),
    )
    return holm_bonferroni(hyp, "user_id", "p_ppm", alpha_ppm=100_000)


def q_audio_zcr(spark: SparkSession, sf: str) -> DataFrame:
    # Audio zero-crossing rate per 256-sample frame (multimodal/
    # binary_ops.audio_zero_crossings): the voiced/unvoiced + noisiness
    # feature next to q_multimodal_rms's energy — same Arrow
    # mapInPandas zero-copy PCM reinterpret, pure-integer transition
    # count, frames independently recomputable under repartitioning.
    from iowa_liquor_sales_spark.multimodal.binary_ops import (
        attach_payload,
        audio_zero_crossings,
    )

    docs = attach_payload(read_table(spark, sf, "documents"))
    return audio_zero_crossings(docs)


def q_hurst(spark: SparkSession, sf: str) -> DataFrame:
    # Hurst exponent per event-type series via rescaled-range analysis
    # (temporal.hurst_rs): complete chunks at w=8/16/32/64, exact
    # n-scaled cumulative deviations (DECIMAL(38,0)), one double sqrt
    # per chunk on the ppm grid, zipf-convention ln-ln regression —
    # the "does this metric have memory" long-range-dependence
    # diagnostic.
    from iowa_liquor_sales_spark.operators.temporal import hurst_rs

    return hurst_rs(
        read_table(spark, sf, "events"), "event_type", "event_id", "value"
    ).withColumnRenamed("event_type", "etype")



def q_isotonic(spark: SparkSession, sf: str) -> DataFrame:
    # Isotonic (PAV) calibration of P(lang='en') as a non-decreasing
    # function of the doc-length decile grid (quality.
    # isotonic_calibration): the sequential pooling loop re-expressed
    # as the closed minimax form — two window passes over the
    # O(levels^2) interval relation, nothing sequential, no driver
    # loop. The quantized-score contract bounds levels.
    from iowa_liquor_sales_spark.operators.quality import (
        isotonic_calibration,
    )

    d = read_table(spark, sf, "documents").select(
        F.expr("CAST(n_chars div 100 AS BIGINT)").alias("bucket"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return isotonic_calibration(d, "bucket", "is_en")


def q_quadratic_fit(spark: SparkSession, sf: str) -> DataFrame:
    # Degree-2 OLS of daily revenue on the day index (aggregates.
    # quadratic_fit): is growth accelerating or saturating — the
    # curvature question the linear slopes can't answer. Seven exact
    # DECIMAL(38,0) moments in one combinable pass; Cramer's rule in
    # double (identical IEEE both engines), ppm grid.
    from iowa_liquor_sales_spark.operators.aggregates import quadratic_fit

    o = read_table(spark, sf, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    return quadratic_fit(daily, "t", "cents")



def q_auc_delong(spark: SparkSession, sf: str) -> DataFrame:
    # Exact ROC-AUC with its DeLong 95% confidence interval (quality.
    # auc_delong_ci) for the q_auc score/label pair: the placement
    # variances collapse to exact DECIMAL(38,0) moments over the
    # O(distinct-scores) relation (placements are constant within a
    # score group), one double sqrt for the standard error. The CI is
    # the number a model-gating decision actually needs.
    from iowa_liquor_sales_spark.operators.quality import auc_delong_ci

    docs = read_table(spark, sf, "documents").select(
        F.floor(F.col("n_chars")).cast("long").alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return auc_delong_ci(docs, "score", "is_en")



def q_stratified_kfold(spark: SparkSession, sf: str) -> DataFrame:
    # Stratified 5-fold assignment over documents, stratified by
    # language (sampling.stratified_kfold): rows ranked within each
    # stratum by the content hash and dealt round-robin, so every
    # stratum's folds balance within +-1 — the cross-validation
    # splitter hash_split's in-expectation buckets can't guarantee for
    # rare strata. Deterministic and partition-invariant.
    from iowa_liquor_sales_spark.operators.sampling import stratified_kfold

    return stratified_kfold(
        read_table(spark, sf, "documents").select("doc_id", "lang"),
        ["lang"],
        "doc_id",
        n_folds=5,
    )


def q_rolling_quantile(spark: SparkSession, sf: str) -> DataFrame:
    # Trailing-7-day p95 of event value per day (temporal.
    # rolling_grid_quantile): merged DAILY HISTOGRAMS instead of a
    # per-row window sort — one combinable groupBy(day, bucket), a
    # bounded x7 fanout join, and the quantile as the first bucket
    # crossing the threshold; everything after the first aggregate
    # runs on O(days x buckets) rows.
    from iowa_liquor_sales_spark.operators.temporal import (
        rolling_grid_quantile,
    )

    return rolling_grid_quantile(
        read_table(spark, sf, "events"),
        "ts",
        "value",
        q_ppm=950_000,
        trailing_days=7,
        bucket_width=100,
        value_scale=100,
    )


def q_script_profile(spark: SparkSession, sf: str) -> DataFrame:
    # Per-document Unicode-script profile + dominant class (text.
    # script_profile): the zero-shuffle count-by-deletion idiom
    # (length minus length after class removal) with literal character
    # ranges so Java regex and RE2 agree — the writing-system routing
    # key upstream of lang_id in a multilingual curation pipeline.
    from iowa_liquor_sales_spark.operators.text import script_profile

    return script_profile(read_table(spark, sf, "documents"))



def q_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    # Difference-in-differences estimate of the "treatment" on event
    # value: arm = user parity, post = second half of the event window
    # (quality.diff_in_diff) — nets out the stable arm difference and
    # the common time trend, four (arm x period) cells of exact
    # DECIMAL(38,0) moments, pooled z in double at the end. The causal
    # companion to q_cuped for non-randomized rollouts.
    from iowa_liquor_sales_spark.operators.quality import diff_in_diff

    ev = read_table(spark, sf, "events").select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp_ntz"))
        .cast("int")
        .alias("post"),
        "value",
    )
    return diff_in_diff(ev, "arm", "post", "value", value_scale=100)


def q_ngram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    # Per-eval-doc 3-gram coverage by the train split (text.
    # ngram_coverage): train = sources src2..src19, eval = src0/src1
    # (the q_decontaminate split, inverted question) — one hash join
    # from eval shingles to the train distinct-shingle relation,
    # pure-integer ppm coverage.
    from iowa_liquor_sales_spark.operators.text import ngram_coverage

    docs = read_table(spark, sf, "documents")
    train = docs.filter(~F.col("source").isin(["src0", "src1"]))
    ev = docs.filter(F.col("source").isin(["src0", "src1"]))
    return ngram_coverage(train, ev, n=3)


def q_hill_tail(spark: SparkSession, sf: str) -> DataFrame:
    # Hill tail-index estimate over the top-200 order totals
    # (aggregates.hill_tail_index): the heavy-tail diagnostic on the
    # cents grid — global structure is ONLY the top-k
    # (TakeOrderedAndProject, per-partition prune), log-ratios floored
    # to the 1e-6 grid before the exact integer sum (zipf convention).
    from iowa_liquor_sales_spark.operators.aggregates import (
        hill_tail_index,
    )

    o = read_table(spark, sf, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return hill_tail_index(o, "cents", k=200)



def q_ams_f2(spark: SparkSession, sf: str) -> DataFrame:
    # AMS second-moment (self-join size) sketch over supplier keys
    # (sketches.ams_f2): nine md5-parity +-1 estimators summed in ONE
    # combinable pass, exact-integer median-of-squares, with the exact
    # F2 emitted beside the estimate — the join-sizing/skew-planning
    # number, one scan.
    from iowa_liquor_sales_spark.operators.sketches import ams_f2

    return ams_f2(
        read_table(spark, sf, "lineitem"), "l_suppkey", n_estimators=9
    )


def q_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    # 4-truss decomposition of the q_triangles folded projection
    # (graph.ktruss_converged): peel edges with triangle support < 2
    # to convergence — one oriented wedge join + semi-verify per round,
    # localCheckpoint-flattened lineage, O(1) convergence probe. The
    # oracle replays a fixed 12-round peel (idempotent past the
    # fixpoint, so any convergence round count <= 12 matches).
    from iowa_liquor_sales_spark.operators.graph import ktruss_converged

    # 1000/1400 moduli keep average degree ~12-120 across gate/bench
    # SFs: the wedge work is O(sum deg^2) PER PEEL ROUND, so the
    # modulus is the scale knob (the q_triangles 500/700 fold reaches
    # degree ~1000 at sf0.1 and pays ~7e8 wedges per round).
    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 1000).alias("src"),
        (F.col("o_orderkey") % 1400).alias("dst"),
    )
    return ktruss_converged(edges, k=4)



def q_preference_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # DPO-style preference-pair mining (curation.preference_pairs):
    # within each source, top-3 longest docs as "chosen" vs bottom-3 as
    # "rejected" with a minimum score gap — two rank-limited per-group
    # windows reduce each group to O(m) rows before the m x m pairing;
    # never corpus x corpus. The no-human-labels contrastive-data op.
    from iowa_liquor_sales_spark.operators.curation import preference_pairs

    return preference_pairs(
        read_table(spark, sf, "documents"),
        "source",
        "doc_id",
        "n_chars",
        top_m=3,
        min_gap=50,
    )


def q_truncated_recall(spark: SparkSession, sf: str) -> DataFrame:
    # Matryoshka truncation eval (similarity.truncated_recall):
    # recall@10 of nearest-neighbor search on the FIRST 16 of 64
    # embedding dims against the full-dim exact top-10 — how many dims
    # the serving index can drop before retrieval pays. Broadcast
    # anchors, exact int64 grid distances for both rankings,
    # pure-integer recall.
    from iowa_liquor_sales_spark.operators.similarity import (
        truncated_recall,
    )

    return truncated_recall(
        read_table(spark, sf, "embeddings"), trunc_dims=16, n_queries=8,
        k=10,
    )


def q_sprt(spark: SparkSession, sf: str) -> DataFrame:
    # Wald SPRT sequential monitor of the daily purchase rate
    # (quality.sprt_monitor): H0 p=0.15 vs H1 p=0.25 — the
    # peek-every-day A/B readout with no alpha inflation. The only
    # floats are four python-computed constants on the 1e-6 grid; the
    # daily LLR walk is exact int64 over the O(days) relation.
    from iowa_liquor_sales_spark.operators.quality import sprt_monitor

    ev = read_table(spark, sf, "events").select(
        "ts", (F.col("event_type") == "purchase").alias("is_purchase")
    )
    return sprt_monitor(
        ev, "ts", "is_purchase", p0_ppm=150_000, p1_ppm=250_000
    )



def q_forecast_backtest(spark: SparkSession, sf: str) -> DataFrame:
    # Rolling-origin backtest of the seasonal-naive forecaster with
    # MASE per event type (temporal.forecast_backtest): both forecasts
    # are per-key window lags over the O(days) daily relation; exact
    # int64 absolute-error sums on the cents grid, one truncating div.
    # MASE < 1e6 means the weekly-seasonal forecaster beats the naive
    # walk — the pick-your-forecaster number next to q_holt_forecast.
    from iowa_liquor_sales_spark.operators.temporal import (
        forecast_backtest,
    )

    return forecast_backtest(
        read_table(spark, sf, "events"),
        "event_type",
        "ts",
        "value",
        season=7,
    ).withColumnRenamed("event_type", "etype")


def q_best_f1(spark: SparkSession, sf: str) -> DataFrame:
    # Argmax-F1 decision threshold for the q_auc score/label pair
    # (quality.best_f1_threshold): suffix sums over the O(distinct
    # scores) relation give TP/FP at EVERY threshold in one pass; the
    # winner is picked by the exact-integer-ratio F1 compare (double
    # only for ordering, identical IEEE both engines), ties to the
    # stricter threshold — the deploy knob q_pr_curve plots but
    # doesn't pick.
    from iowa_liquor_sales_spark.operators.quality import (
        best_f1_threshold,
    )

    docs = read_table(spark, sf, "documents").select(
        F.floor(F.col("n_chars")).cast("long").alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return best_f1_threshold(docs, "score", "is_en")



def q_betweenness(spark: SparkSession, sf: str) -> DataFrame:
    # Sampled Brandes betweenness from 4 sources over the folded
    # projection graph (graph.betweenness_sample): all sources advance
    # in ONE frontier relation per BFS level, and the backward
    # dependency accumulation is ALL-INTEGER — each successor term is
    # (sigma_v * (1e9 + delta_w)) div sigma_w, so the estimate is
    # bit-stable under any partitioning (a float Brandes would be
    # order-dependent in its sums). The oracle replays the same
    # levels as chained materialized CTEs.
    from iowa_liquor_sales_spark.operators.graph import betweenness_sample

    o = read_table(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 700).alias("dst"),
    )
    return betweenness_sample(edges, sources=[0, 1, 2, 3], max_depth=4)



def q_negative_sampling(spark: SparkSession, sf: str) -> DataFrame:
    # Skip-gram-style negative sampling (sampling.weighted_choice):
    # every (doc, slot 0..2) draw picks a source from the corpus
    # source distribution raised to 0.75 (the word2vec unigram
    # flattening), deterministically via the md5 draw hash — same key,
    # same negative, on any cluster layout. The vocabulary collapses
    # to an O(sources) cumulative-weight relation; the interval probe
    # is a broadcast range join.
    from iowa_liquor_sales_spark.operators.sampling import weighted_choice

    docs = read_table(spark, sf, "documents")
    weights = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "source",
            F.floor(F.pow(F.col("cnt").cast("double"), 0.75) * 1e3)
            .cast("long")
            .alias("w75"),
        )
    )
    draws = docs.select("doc_id").withColumn(
        "slot", F.explode(F.sequence(F.lit(0), F.lit(2)))
    )
    return weighted_choice(
        draws, weights, ["doc_id", "slot"], "source", "w75"
    ).select("doc_id", "slot", F.col("item").alias("neg_source"))



def q_log_odds(spark: SparkSession, sf: str) -> DataFrame:
    # Monroe-Colaresi-Quinn "fightin' words" between English and
    # Spanish docs (text.log_odds_ratio): per-term Dirichlet-prior
    # log-odds z over the O(vocab) term relation — which words
    # distinguish corpus A from B with rare-term error bars done
    # right; ln of exact integer ratios on the 1e-3 alpha grid.
    from iowa_liquor_sales_spark.operators.text import log_odds_ratio

    return log_odds_ratio(
        read_table(spark, sf, "documents"),
        "text",
        "lang",
        "en",
        "es",
        alpha_e3=1000,
        min_count=5,
    )


def q_rolling_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    # Rolling-median anomaly flags on daily event value (temporal.
    # rolling_anomaly): trailing-7-day exact median via the bounded
    # fanout join, residual MAD gate |r - med_r|*1e6 > k*MAD, all
    # pure-integer on the cents grid over the O(days) relation — the
    # robust daily-metrics alarm a mean/stddev gate can't be.
    from iowa_liquor_sales_spark.operators.temporal import rolling_anomaly

    return rolling_anomaly(
        read_table(spark, sf, "events"),
        "ts",
        "value",
        trailing_days=7,
        k_ppm=3_000_000,
    )



def q_conformal(spark: SparkSession, sf: str) -> DataFrame:
    # Split-conformal prediction interval for order totals predicted
    # by their priority-group mean (quality.conformal_interval):
    # md5-parity fit/calibration/test split, conformal quantile as an
    # order statistic via prefix sums over the grouped residual
    # relation (never a global row sort), pure-integer empirical
    # coverage vs the 90% target — the distribution-free error bar.
    from iowa_liquor_sales_spark.operators.quality import (
        conformal_interval,
    )

    return conformal_interval(
        read_table(spark, sf, "orders"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        alpha_ppm=100_000,
    )


def q_ucb_ranking(spark: SparkSession, sf: str) -> DataFrame:
    # UCB1 bandit ranking of event types by mean value + exploration
    # bonus (quality.ucb_ranking): one combinable aggregate to the
    # O(arms) relation, one ln + one sqrt per ARM on the e2 grid —
    # which arm a mixing/routing loop should pull next.
    from iowa_liquor_sales_spark.operators.quality import ucb_ranking

    return ucb_ranking(
        read_table(spark, sf, "events"), "event_type", "value"
    )



def q_knee_point(spark: SparkSession, sf: str) -> DataFrame:
    # Kneedle knee detection over the Lorenz decile curve
    # (aggregates.knee_point): normalize x/y by cross-multiplication
    # (exact DECIMAL(38,0), no division until the reported score) and
    # take the max normalized difference — the "where does the curve
    # stop paying" picker for every tuning curve the engine emits.
    from iowa_liquor_sales_spark.operators.aggregates import (
        knee_point,
        lorenz_deciles,
    )

    lor = lorenz_deciles(
        read_table(spark, sf, "documents"), "n_chars", "doc_id"
    )
    return knee_point(lor, "bin", "cum_share_ppm")


def q_mde_power(spark: SparkSession, sf: str) -> DataFrame:
    # A/B power planning from the observed two-arm pilot (quality.
    # mde_power): minimum detectable effect at alpha 5%/power 80% and
    # the per-arm n needed for a 1%-of-mean effect — exact
    # DECIMAL(38,0) moments, normal quantiles as fixed 1e-6 constants,
    # one sqrt at the end. Arms = user parity on event values.
    from iowa_liquor_sales_spark.operators.quality import mde_power

    ev = read_table(spark, sf, "events").select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "value"
    )
    return mde_power(ev, "arm", "value")



def q_two_prop_z(spark: SparkSession, sf: str) -> DataFrame:
    # Two-proportion z-test of the purchase rate between user-parity
    # arms (quality.two_proportion_z): the plainest A/B readout —
    # pooled-variance z from exact integer counts, one double sqrt on
    # the ppm grid; brackets q_wilson_ctr (one-arm CI) and
    # q_abtest_srm (allocation check).
    from iowa_liquor_sales_spark.operators.quality import two_proportion_z

    ev = read_table(spark, sf, "events").select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    return two_proportion_z(ev, "arm", "is_purchase")


def q_gini_split(spark: SparkSession, sf: str) -> DataFrame:
    # Decision-stump split finder on the q_auc score/label pair
    # (quality.best_gini_split): the threshold minimizing weighted
    # Gini impurity from one suffix-sum pass over the O(distinct
    # scores) relation — the root split a tree learner would make,
    # ties to the higher threshold.
    from iowa_liquor_sales_spark.operators.quality import best_gini_split

    docs = read_table(spark, sf, "documents").select(
        F.floor(F.col("n_chars")).cast("long").alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return best_gini_split(docs, "score", "is_en")



def q_relative_risk(spark: SparkSession, sf: str) -> DataFrame:
    # 2x2 relative risk + odds ratio with log-scale Wald 95% CIs
    # (quality.relative_risk): does a long document (exposure) raise
    # the probability of the 'en' label (outcome)? Point estimates are
    # cross-multiplied integer ratios on the ppm grid; only the CIs
    # touch libm. The single-table base case q_mantel_haenszel pools.
    from iowa_liquor_sales_spark.operators.quality import relative_risk

    docs = read_table(spark, sf, "documents").select(
        (F.col("n_chars") >= 500).alias("long_doc"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return relative_risk(docs, "long_doc", "is_en")



# Head of the returned registry = the driver gate's 50-entry coverage
# window; queries() promotes these names to the front of the (otherwise
# stable) registry order, so each round's rotation is a one-list edit.
# Round-7 rotation CLOSES 100% cumulative driver coverage: positions
# 1-2 re-gate q_array_funcs / q_map_funcs, the round-6 reds — their
# array/map outputs are now serialized to CSV strings (array_join /
# string_agg twins) so the driver's pandas canonicalizer can sort and
# hash them; a schema sweep confirmed no other query emits a
# list/map/struct output column. Positions 3-48 are ALL 46 remaining
# never-driver-gated queries from the round-6 backlog (round-6 verdict
# item 2), including the rows-only q_compression_ratio. Positions
# 49-50 re-gate q_assoc_rules (Apriori item-frequency prune added —
# round-6 verdict item 3's done criterion requires it driver-green
# bit-identical) and q_auc (pair-count arithmetic moved to
# DECIMAL(38,0) + the quantize guard at the call site). Round-8 gate
# backlog, in priority order: the seven NEW round-7 queries
# q_image_dhash, q_ann_range, q_bh_fdr, q_leakage_split,
# q_token_budget, q_canonical_dedup, q_join_delta (all oracle-checked
# in the local sweep this round), then the lower-risk changed-code re-gates
# q_reliability (score sum now accumulates in DECIMAL(38,0)),
# q_fuzzy_names and q_entity_resolution (fuzzy_pairs gained the
# pair_source branch; the default path is plan-identical and was
# re-verified bit-identical vs oracle at sf0.01 this round).
# scripts/oracle_sweep.py still checks every entry locally each round.
def q_paragraph_neardup(spark: SparkSession, sf: str) -> DataFrame:
    # Paragraph-grain MinHash+LSH near-dup (dedup.paragraph_neardup_pairs
    # — the Dolma/CCNet sub-document pass; dedup_lines catches only
    # EXACT unit copies). Single-line synthetic docs are chunked at 25
    # words; same md5/affine signature conventions as q_minhash_lsh,
    # composed through a doc*stride+para composite unit id. Candidates
    # only are verified; nothing is O(units^2).
    from iowa_liquor_sales_spark.operators.dedup import (
        paragraph_neardup_pairs,
    )

    return paragraph_neardup_pairs(
        read_table(spark, sf, "documents"),
        "text",
        "doc_id",
        sep=None,
        words_per_chunk=25,
        n=3,
        num_hashes=32,
        rows_per_band=4,
        min_jaccard=0.5,
        min_words=3,
        id_stride=1000,
    )


def q_match_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-doc duplicated-span LENGTH histogram (dedup.
    # dup_span_length_histogram): the Lee-et-al. exact-substring
    # family's knob-setting curve — the length distribution that picks
    # a dedup pass's minimum-match threshold — off the k-gram islands,
    # no suffix structures. Two combinable shuffles + one hash join,
    # struct-state island fold, O(distinct lengths) output.
    from iowa_liquor_sales_spark.operators.dedup import (
        dup_span_length_histogram,
    )

    return dup_span_length_histogram(
        read_table(spark, sf, "documents"), "text", "doc_id", k=5
    )


def q_contamination_matrix(spark: SparkSession, sf: str) -> DataFrame:
    # Per-source contamination matrix (text.contamination_matrix):
    # train-slice x eval-set distinct-3-gram overlap ppm — the
    # source-attribution audit (which slice leaks which benchmark),
    # q_ngram_coverage's matrix generalization. One shingle join makes
    # every cell at once; the dense O(sources^2) completion is a
    # broadcast cross of two source lists.
    from iowa_liquor_sales_spark.operators.text import contamination_matrix

    docs = read_table(spark, sf, "documents")
    return contamination_matrix(
        docs.filter(~F.col("source").isin(["src0", "src1"])),
        docs.filter(F.col("source").isin(["src0", "src1"])),
        n=3,
    )


# Round-10 rotation: see the in-list comments below.
_GATE_HEAD = [
    # round-10 rotation (round-9 verdict item 1): positions 1-25 are
    # the ENTIRE never-driver-gated backlog — q_compression_ratio's
    # first green (partial DuckDB oracle landed round 9, retiring the
    # perpetual err:no_oracle), q_ppm_zlib_decode (new round 9), then
    # the 23-query statistics tail of the round-8 wave. After these
    # gate green, every registry query has a lifetime green row — the
    # strict 426/426 bar — for the first time in project history.
    "q_compression_ratio",
    "q_ppm_zlib_decode",
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
    # Positions 26-30: re-gates of code paths round 9/10 touched
    # (round-9 verdict item 1): the ANN lifecycle pair (build write
    # path gained cluster-on-cell in r9 and sqrt(N) self-sizing in
    # r10), q_image_dhash (codec dispatch became a dict in r9),
    # q_hurst (distributed_index branch + r10 unpersist fix),
    # q_dbscan_grid (observations arm).
    "q_ann_prebuilt",
    "q_ann_assign_delta",
    "q_image_dhash",
    "q_hurst",
    "q_dbscan_grid",
    # Positions 31-47: freshness re-gates — 17 queries whose only
    # green row is round 1 (core scan/agg/set/window/ANN surface has
    # not been re-gated since; scripts/oracle_sweep.py has re-checked
    # them every round, but a driver row is the stricter record).
    # Positions 48-50: the three NEW round-10 queries (paragraph-grain
    # LSH, match-length histogram, contamination matrix), gated in
    # their landing round per the round-9 verdict item 6.
    "q_ann_bruteforce",
    "q_ann_lsh",
    "q_minhash_lsh",
    "q_dedup_exact",
    "q_socrata_scan",
    "q_count_distinct",
    "q_percentiles",
    "q_window_running",
    "q_topk_pergroup",
    "q_pivot",
    "q_rollup",
    "q_cube",
    "q_set_union",
    "q_set_intersect",
    "q_set_except",
    "q_json_extract",
    "q_string_funcs",
    "q_paragraph_neardup",
    "q_match_length_histogram",
    "q_contamination_matrix",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Every top-level ``q_*`` function is a query; the driver gates the
    # first 50, so _GATE_HEAD leads and the rest follow in source order.
    reg = {n: f for n, f in globals().items() if n.startswith("q_")}
    return {**{k: reg[k] for k in _GATE_HEAD}, **reg}


# ---------------------------------------------------------------- oracles


def _ams_f2_oracle(d: int = 9) -> str:
    def h(i: str) -> str:
        return (
            "CAST(('0x' || substr(md5('" + i + "|' || x), 1, 15))"
            " AS BIGINT)"
        )

    zs = ",\n".join(
        f"SUM(1 - 2 * ({h(str(i))} % 2)) AS z{i}" for i in range(d)
    )
    arr = ", ".join(f"CAST(z{i} * z{i} AS BIGINT)" for i in range(d))
    return f"""
        WITH keyed AS (SELECT CAST(l_suppkey AS VARCHAR) AS x
                       FROM lineitem),
        z AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {zs} FROM keyed),
        ests AS (SELECT n, unnest([{arr}]) AS est FROM z),
        med AS (SELECT n, est AS f2_est FROM (
                  SELECT n, est, row_number() OVER (ORDER BY est) AS rn
                  FROM ests) WHERE rn = {(d + 1) // 2}),
        exact AS (SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact FROM (
                    SELECT CAST(COUNT(*) AS HUGEINT) AS f
                    FROM keyed GROUP BY x))
        SELECT n, CAST({d} AS INTEGER) AS n_estimators, f2_exact, f2_est,
               CAST(abs(f2_est - f2_exact) * 1000000 // f2_exact
                    AS BIGINT) AS err_ppm
        FROM med, exact"""


def _ktruss_oracle(rounds: int = 12, need: int = 2) -> str:
    def tri(r: int) -> str:
        return (
            f"tri{r} AS MATERIALIZED (SELECT ab.a, ab.b, bc.c FROM"
            f" (SELECT lo AS a, hi AS b FROM e{r}) ab"
            f" JOIN (SELECT lo AS b, hi AS c FROM e{r}) bc USING (b)"
            f" WHERE EXISTS (SELECT 1 FROM e{r} x"
            f" WHERE x.lo = ab.a AND x.hi = bc.c))"
        )

    def sup(r: int) -> str:
        return (
            f"(SELECT lo, hi, COUNT(*) AS s FROM ("
            f" SELECT a AS lo, b AS hi FROM tri{r}"
            f" UNION ALL SELECT b, c FROM tri{r}"
            f" UNION ALL SELECT a, c FROM tri{r}) GROUP BY 1, 2)"
        )

    parts = [
        """e0 AS MATERIALIZED (
          SELECT DISTINCT least(o_custkey % 1000, o_orderkey % 1400) AS lo,
                 greatest(o_custkey % 1000, o_orderkey % 1400) AS hi
          FROM orders
          WHERE least(o_custkey % 1000, o_orderkey % 1400)
                < greatest(o_custkey % 1000, o_orderkey % 1400))""",
        tri(0),
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.lo, e.hi FROM e{r-1} e"
            f" LEFT JOIN {sup(r-1)} s"
            f" ON e.lo = s.lo AND e.hi = s.hi"
            f" WHERE COALESCE(s.s, 0) >= {need})"
        )
        parts.append(tri(r))
    final = (
        f"SELECT e.lo, e.hi, CAST(s.s AS BIGINT) AS support"
        f" FROM e{rounds} e JOIN {sup(rounds)} s"
        f" ON e.lo = s.lo AND e.hi = s.hi"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def _betweenness_oracle(sources=(0, 1, 2, 3), depth: int = 4) -> str:
    src_vals = ", ".join(f"({s})" for s in sources)
    parts = [
        """und AS MATERIALIZED (
          SELECT DISTINCT least(o_custkey % 500, o_orderkey % 700) AS a,
                 greatest(o_custkey % 500, o_orderkey % 700) AS b
          FROM orders
          WHERE least(o_custkey % 500, o_orderkey % 700)
                < greatest(o_custkey % 500, o_orderkey % 700))""",
        "adj AS MATERIALIZED (SELECT a AS u, b AS w FROM und"
        " UNION ALL SELECT b, a FROM und)",
        f"f0 AS MATERIALIZED (SELECT s, s AS v,"
        f" CAST(1 AS HUGEINT) AS sigma"
        f" FROM (VALUES {src_vals}) AS t(s))",
        "vis0 AS MATERIALIZED (SELECT s, v FROM f0)",
    ]
    for l in range(1, depth + 1):
        parts.append(
            f"f{l} AS MATERIALIZED ("
            f" SELECT f.s, a.w AS v, CAST(SUM(f.sigma) AS HUGEINT)"
            f" AS sigma"
            f" FROM f{l-1} f JOIN adj a ON f.v = a.u"
            f" WHERE NOT EXISTS (SELECT 1 FROM vis{l-1} x"
            f" WHERE x.s = f.s AND x.v = a.w)"
            f" GROUP BY 1, 2)"
        )
        parts.append(
            f"vis{l} AS MATERIALIZED (SELECT * FROM vis{l-1}"
            f" UNION ALL SELECT s, v FROM f{l})"
        )
    parts.append(
        f"d{depth} AS MATERIALIZED (SELECT s, v,"
        f" CAST(0 AS HUGEINT) AS d FROM f{depth})"
    )
    for l in range(depth - 1, 0, -1):
        parts.append(
            f"d{l} AS MATERIALIZED ("
            f" SELECT c.s, c.v, CAST(COALESCE(t.d, 0) AS HUGEINT) AS d"
            f" FROM f{l} c LEFT JOIN ("
            f"   SELECT c2.s, c2.v,"
            f"   SUM((c2.sigma * (1000000000 + x.d)) // n.sigma) AS d"
            f"   FROM f{l} c2 JOIN adj a ON c2.v = a.u"
            f"   JOIN f{l+1} n ON n.s = c2.s AND n.v = a.w"
            f"   JOIN d{l+1} x ON x.s = c2.s AND x.v = a.w"
            f"   GROUP BY c2.s, c2.v) t"
            f" ON t.s = c.s AND t.v = c.v)"
        )
    unions = " UNION ALL ".join(
        f"SELECT v, d FROM d{l} WHERE d > 0" for l in range(1, depth + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(v AS BIGINT) AS v,"
        + " CAST(SUM(d) AS BIGINT) AS betweenness_e9"
        + f" FROM ({unions}) GROUP BY v"
    )


def _countmin_oracle() -> str:
    from iowa_liquor_sales_spark.operators.sketches import countmin_sql

    return countmin_sql("l_suppkey", "lineitem", depth=4, width=256)


def _canonical_dedup_oracle() -> str:
    # Reuses the operator's own confusable map so oracle and engine can
    # never drift; zero-width chars via RE2's \x{...} (DuckDB) vs the
    # Java-regex \uXXXX the Spark side uses — same four codepoints.
    from iowa_liquor_sales_spark.operators.text import (
        _CONFUSABLE_DST,
        _CONFUSABLE_SRC,
    )

    return f"""
        WITH obf AS (
          SELECT doc_id * 2 + 1 AS aid,
                 substr(text, 1, 1) || chr(8203)
                   || translate(substr(text, 2), 'aeo', 'аео') AS t
          FROM documents WHERE doc_id % 3 = 0),
        assets AS (
          SELECT doc_id * 2 AS aid, text AS t FROM documents
          UNION ALL SELECT aid, t FROM obf),
        canon AS (
          SELECT aid,
                 lower(regexp_replace(regexp_replace(
                     translate(t, '{_CONFUSABLE_SRC}', '{_CONFUSABLE_DST}'),
                     '[\\x{{200B}}\\x{{200C}}\\x{{200D}}\\x{{FEFF}}]', '',
                     'g'),
                     '[ \\t\\r\\n]+', ' ', 'g')) AS c
          FROM assets)
        SELECT md5(c) AS content_hash, MIN(aid) AS keeper_id,
               COUNT(*) AS n_dups
        FROM canon GROUP BY md5(c) HAVING COUNT(*) >= 2"""


def oracle_sql() -> dict[str, str]:
    lang_scores = {
        lang: f"len(list_intersect(ws, {markers!r}))"
        for lang, markers in LANG_MARKERS.items()
    }
    gm = "greatest(" + ", ".join(lang_scores.values()) + ")"
    lang_case = (
        f"CASE WHEN {gm} = 0 THEN 'unk' "
        + " ".join(
            f"WHEN {lang_scores[lang]} = {gm} THEN '{lang}'"
            for lang in list(LANG_MARKERS)[:-1]
        )
        + f" ELSE '{list(LANG_MARKERS)[-1]}' END"
    )

    return {
        "q_scan_parquet": "SELECT * FROM lineitem",
        "q_csv_roundtrip": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
                   l_quantity, CAST(l_shipdate AS DATE) AS ship_date
            FROM lineitem""",
        "q_project": "SELECT c_custkey, c_name, c_mktsegment FROM customer",
        "q_socrata_scan": """
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment
            FROM customer""",
        "q_filter_between": """
            SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
            FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                 AND TIMESTAMP '1996-12-31 23:59:59'""",
        "q_filter_notnull": """
            SELECT event_id, event_type FROM events
            WHERE event_type IS NOT NULL AND props IS NOT NULL""",
        "q_limit": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            ORDER BY l_orderkey, l_linenumber LIMIT 100""",
        "q_count": "SELECT COUNT(*) AS n FROM lineitem",
        "q_cast_ts": """
            SELECT o_orderkey,
                   strftime(
                       TRY_CAST(CASE WHEN o_orderkey % 97 = 0 THEN 'not-a-date'
                                     ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                                END AS TIMESTAMP),
                       '%Y-%m-%d %H:%M:%S') AS parsed_ts
            FROM orders""",
        "q_cast_num": """
            SELECT c_custkey,
                   TRY_CAST(CASE WHEN c_custkey % 13 = 0 THEN 'N/A'
                                 ELSE CAST(c_acctbal AS VARCHAR) END AS DOUBLE)
                   AS acct_num
            FROM customer""",
        "q_fillna": """
            SELECT c_custkey,
                   COALESCE(TRY_CAST(CASE WHEN c_custkey % 13 = 0 THEN 'N/A'
                                          ELSE CAST(c_acctbal AS VARCHAR) END
                                     AS DOUBLE), 0.0) AS acct_filled
            FROM customer""",
        "q_date_dim": """
            SELECT DISTINCT
                   CAST(o_orderdate AS DATE) AS date_day,
                   CAST(year(o_orderdate) AS INTEGER) AS year,
                   CAST(quarter(o_orderdate) AS INTEGER) AS quarter,
                   CAST(month(o_orderdate) AS INTEGER) AS month,
                   CAST(dayofweek(o_orderdate) AS INTEGER) AS day_of_week,
                   dayofweek(o_orderdate) IN (0, 6) AS is_weekend
            FROM orders""",
        "q_distinct_dim": "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
        "q_dedup_key": "SELECT DISTINCT c_mktsegment FROM customer",
        "q_dedup_rank": """
            SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                   o_totalprice
            FROM orders
            QUALIFY row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) = 1""",
        "q_pk_check": """
            SELECT l_orderkey, l_linenumber, COUNT(*) AS n_rows
            FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1""",
        "q_fk_antijoin": """
            SELECT l_orderkey, l_linenumber FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)""",
        "q_fk_violations": """
            SELECT DISTINCT l_orderkey FROM lineitem
            WHERE NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_orderkey % 7 <> 0 AND o_orderkey = l_orderkey)""",
        "q_groupby_agg": f"""
            SELECT l_returnflag, l_linestatus,
                   {_dsum("l_quantity")} AS sum_qty,
                   {_dsum("l_extendedprice")} AS sum_base_price,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
                   {_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
                   {_dsum("l_quantity")} / COUNT(l_quantity) AS avg_qty,
                   {_dsum("l_extendedprice")} / COUNT(l_extendedprice) AS avg_price,
                   {_dsum("l_discount")} / COUNT(l_discount) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "q_star_join": f"""
            SELECT r_name, n_name,
                   CAST(year(o_orderdate) AS INTEGER) AS order_year,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2, 3""",
        "q_semijoin": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (
                SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)""",
        "q_set_union": """
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            UNION
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
        "q_set_intersect": """
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
        "q_set_except": """
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
        "q_topk_pergroup": """
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   CAST(row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rnk
            FROM customer
            QUALIFY rnk <= 5""",
        "q_window_running": """
            SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                   o_totalprice,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS running_sum
            FROM orders""",
        "q_percentiles": """
            WITH s1 AS (
              SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS v,
                     row_number() OVER (PARTITION BY l_returnflag
                         ORDER BY CAST(round(l_quantity) AS BIGINT),
                                  l_orderkey, l_linenumber) AS rn,
                     COUNT(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem),
            m AS (SELECT l_returnflag,
                         MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN v END)
                             AS lo,
                         MAX(CASE WHEN rn = (n - 1) // 2 + 2 THEN v END)
                             AS hi,
                         MIN((n - 1) % 2) AS r
                  FROM s1
                  WHERE rn = (n - 1) // 2 + 1 OR rn = (n - 1) // 2 + 2
                  GROUP BY l_returnflag),
            medv AS (SELECT l_returnflag,
                            CAST((2 - r) * lo + r * COALESCE(hi, 0)
                                 AS BIGINT) AS median_qty_x2
                     FROM m),
            s2 AS (
              SELECT l_returnflag,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                     row_number() OVER (PARTITION BY l_returnflag
                         ORDER BY CAST(round(l_extendedprice * 100)
                                       AS BIGINT),
                                  l_orderkey, l_linenumber) AS rn,
                     COUNT(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem),
            m2 AS (SELECT l_returnflag,
                          MAX(CASE WHEN rn = 9 * (n - 1) // 10 + 1 THEN v
                              END) AS lo,
                          MAX(CASE WHEN rn = 9 * (n - 1) // 10 + 2 THEN v
                              END) AS hi,
                          MIN(9 * (n - 1) % 10) AS r
                   FROM s2
                   WHERE rn = 9 * (n - 1) // 10 + 1
                      OR rn = 9 * (n - 1) // 10 + 2
                   GROUP BY l_returnflag),
            p90v AS (SELECT l_returnflag,
                            CAST((10 - r) * lo + r * COALESCE(hi, 0)
                                 AS BIGINT) AS p90_price_x10c
                     FROM m2)
            SELECT l_returnflag, median_qty_x2, p90_price_x10c
            FROM medv JOIN p90v USING (l_returnflag)""",
        "q_count_distinct": """
            SELECT o_orderstatus,
                   COUNT(DISTINCT o_custkey) AS n_customers,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_orderstatus""",
        "q_stats_agg": f"""
            WITH r AS (SELECT c_mktsegment,
                              CAST(round(c_acctbal * 100) AS BIGINT) AS cb,
                              CAST(c_nationkey AS BIGINT) AS nk
                       FROM customer),
            a AS (SELECT c_mktsegment,
                         CAST(COUNT(*) AS DOUBLE) AS n,
                         SUM(cb) AS s_, SUM(cb * cb) AS ss_,
                         SUM(nk) AS sy_, SUM(nk * nk) AS syy_,
                         SUM(cb * nk) AS sxy_
                  FROM r GROUP BY c_mktsegment),
            g AS (SELECT c_mktsegment, n,
                         {det_double_sql("s_")} AS s,
                         {det_double_sql("ss_")} AS ss,
                         {det_double_sql("sy_")} AS sy,
                         {det_double_sql("syy_")} AS syy,
                         {det_double_sql("sxy_")} AS sxy
                  FROM a)
            SELECT c_mktsegment,
                   {floor_scaled_sql("sqrt((ss - s * s / n) / (n - 1))", 4,
                                     "sd_acctbal_micro")},
                   {floor_scaled_sql("s / n", 4, "mean_acctbal_micro")},
                   {floor_scaled_sql(
                       "(n * sxy - s * sy) / (sqrt(n * ss - s * s)"
                       " * sqrt(n * syy - sy * sy))", 9,
                       "corr_bal_nation_ppb")}
            FROM g""",
        "q_wordcount": """
            SELECT word, COUNT(*) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            GROUP BY word ORDER BY n DESC, word LIMIT 20""",
        "q_pivot": """
            SELECT user_id,
                   COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
                   COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                   COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
            FROM events GROUP BY user_id""",
        "q_shipping_priority": f"""
            SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND CAST(o_orderdate AS DATE) < DATE '1996-06-30'
              AND CAST(l_shipdate AS DATE) > DATE '1996-06-30'
            GROUP BY 1, 2
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10""",
        "q_conditional_agg": f"""
            SELECT promo_revenue, total_revenue,
                   promo_revenue / total_revenue AS promo_share
            FROM (
              SELECT
                {_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4)}
                    AS promo_revenue,
                {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE CAST(l_shipdate AS DATE)
                    BETWEEN DATE '1996-01-01' AND DATE '1996-01-31'
            )""",
        "q_string_funcs": """
            SELECT c_custkey,
                   upper(c_name) AS name_upper,
                   lower(c_name) AS name_lower,
                   CAST(length(c_name) AS INTEGER) AS name_len,
                   substring(c_name, 1, 5) AS name_head,
                   concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR))
                       AS seg_nation,
                   regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
                   replace(c_name, '0', 'O') AS name_o,
                   lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_padded
            FROM customer""",
        "q_json_extract": """
            SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
            FROM events""",
        "q_upsert": """
            SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
            UNION ALL
            SELECT c_custkey, upper(c_name) AS c_name FROM customer
            WHERE c_custkey % 2 <> 0""",
        "q_cube": f"""
            SELECT l_returnflag, l_linestatus,
                   {_dsum("l_quantity")} AS sum_l_quantity,
                   COUNT(*) AS n
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)""",
        "q_exists_agg": """
            SELECT o_orderpriority, COUNT(*) AS n_orders
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority""",
        "q_outer_count_dist": """
            SELECT c_count, COUNT(*) AS custdist FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey)
            GROUP BY c_count""",
        "q_null_semantics": """
            SELECT nullif(o_orderstatus, 'O') AS status_n,
                   COUNT(*) AS n_rows,
                   COUNT(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                              ELSE o_totalprice END) AS n_nonnull,
                   CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                                      ELSE o_totalprice END
                                 AS DECIMAL(18,2))) AS DOUBLE) AS sum_masked
            FROM orders
            GROUP BY nullif(o_orderstatus, 'O')""",
        "q_rollup_year": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
                   o_orderstatus,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_price,
                   COUNT(*) AS n
            FROM orders
            GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderstatus)""",
        "q_offset": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            ORDER BY l_orderkey, l_linenumber LIMIT 50 OFFSET 100""",
        "q_dedup_exact": """
            SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
                   COUNT(*) AS n_dups
            FROM documents GROUP BY 1""",
        "q_ngram_jaccard": f"""
            WITH {_JACCARD_CTE}
            SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5""",
        "q_minhash_lsh": f"""
            WITH {_JACCARD_CTE},
            h31 AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                         % 2147483647 AS h31
              FROM sh
            ),
            hx AS (
              SELECT doc_id, i,
                     MIN(({_MH_A}[i + 1] * h31 + {_MH_B}[i + 1]) % 2147483647)
                         AS sig
              FROM h31, range(32) t(i)
              GROUP BY doc_id, i
            ),
            bands AS (
              SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
                     md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
              FROM hx GROUP BY doc_id, CAST(i // 4 AS INTEGER)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b USING (band, bucket)
              WHERE a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, jaccard
            FROM cand JOIN jac USING (doc_a, doc_b)
            WHERE jaccard >= 0.8""",
        "q_simhash": """
            WITH wd AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
              FROM wd
            ),
            votes AS (
              SELECT doc_id, b.bit,
                     SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS s
              FROM h, range(60) b(bit)
              GROUP BY doc_id, b.bit
            )
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                            ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id""",
        "q_simhash_pairs": """
            WITH wd AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
              FROM wd
            ),
            votes AS (
              SELECT doc_id, b.bit,
                     SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS s
              FROM h, range(60) b(bit)
              GROUP BY doc_id, b.bit
            ),
            fp AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id
            ),
            banded AS (
              SELECT doc_id, simhash, b.band,
                     (simhash >> (b.band * 15)) & 32767 AS block
              FROM fp, range(4) b(band)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.simhash AS fp_a, b.simhash AS fp_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.block = b.block
               AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3""",
        "q_sorted_neighborhood": """
            WITH keyed AS (
              SELECT doc_id,
                     substr(COALESCE(trim(regexp_replace(regexp_replace(
                       lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ''),
                       1, 24) AS skey
              FROM documents
            ),
            ranked AS (
              SELECT doc_id, skey,
                     row_number() OVER (ORDER BY skey, doc_id) AS rn
              FROM keyed
            ),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     levenshtein(a.skey, b.skey) AS ed
              FROM ranked a JOIN ranked b
                ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
            )
            SELECT least(doc_a, doc_b) AS id_a,
                   greatest(doc_a, doc_b) AS id_b,
                   CAST(ed AS INT) AS edit_distance
            FROM pairs WHERE ed <= 8""",
        "q_kcore": """
            WITH e0 AS (
              SELECT DISTINCT least(o_custkey % 500, o_orderkey % 700) AS lo,
                     greatest(o_custkey % 500, o_orderkey % 700) AS hi
              FROM orders
              WHERE (o_custkey % 500) <> (o_orderkey % 700)
            ),
            d0 AS (
              SELECT v, COUNT(*) AS deg FROM (
                SELECT lo AS v FROM e0 UNION ALL SELECT hi FROM e0
              ) GROUP BY v
            ),
            e1 AS (
              SELECT lo, hi FROM e0
              WHERE lo IN (SELECT v FROM d0 WHERE deg >= 24)
                AND hi IN (SELECT v FROM d0 WHERE deg >= 24)
            ),
            d1 AS (
              SELECT v, COUNT(*) AS deg FROM (
                SELECT lo AS v FROM e1 UNION ALL SELECT hi FROM e1
              ) GROUP BY v
            ),
            e2 AS (
              SELECT lo, hi FROM e1
              WHERE lo IN (SELECT v FROM d1 WHERE deg >= 24)
                AND hi IN (SELECT v FROM d1 WHERE deg >= 24)
            ),
            d2 AS (
              SELECT v, COUNT(*) AS deg FROM (
                SELECT lo AS v FROM e2 UNION ALL SELECT hi FROM e2
              ) GROUP BY v
            ),
            e3 AS (
              SELECT lo, hi FROM e2
              WHERE lo IN (SELECT v FROM d2 WHERE deg >= 24)
                AND hi IN (SELECT v FROM d2 WHERE deg >= 24)
            )
            SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
              SELECT lo AS v FROM e3 UNION ALL SELECT hi FROM e3
            ) GROUP BY v""",
        "q_rfm_segments": """
            WITH per AS (
              SELECT o_custkey,
                     datediff('day', MAX(CAST(o_orderdate AS DATE)),
                              DATE '1998-12-31') AS recency,
                     COUNT(*) AS freq,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS mon_cents
              FROM orders GROUP BY o_custkey
            ),
            thr AS (
              SELECT quantile_cont(recency, 0.2) AS r20,
                     quantile_cont(recency, 0.4) AS r40,
                     quantile_cont(recency, 0.6) AS r60,
                     quantile_cont(recency, 0.8) AS r80,
                     quantile_cont(freq, 0.2) AS f20,
                     quantile_cont(freq, 0.4) AS f40,
                     quantile_cont(freq, 0.6) AS f60,
                     quantile_cont(freq, 0.8) AS f80,
                     quantile_cont(mon_cents, 0.2) AS m20,
                     quantile_cont(mon_cents, 0.4) AS m40,
                     quantile_cont(mon_cents, 0.6) AS m60,
                     quantile_cont(mon_cents, 0.8) AS m80
              FROM per
            ),
            cells AS (
              SELECT 1 + CAST(recency > r20 AS INT) + CAST(recency > r40 AS INT)
                       + CAST(recency > r60 AS INT) + CAST(recency > r80 AS INT)
                       AS r_quintile,
                     1 + CAST(freq > f20 AS INT) + CAST(freq > f40 AS INT)
                       + CAST(freq > f60 AS INT) + CAST(freq > f80 AS INT)
                       AS f_quintile,
                     1 + CAST(mon_cents > m20 AS INT) + CAST(mon_cents > m40 AS INT)
                       + CAST(mon_cents > m60 AS INT) + CAST(mon_cents > m80 AS INT)
                       AS m_quintile,
                     mon_cents
              FROM per, thr
            )
            SELECT r_quintile, f_quintile, m_quintile,
                   COUNT(*) AS n_customers,
                   CAST(SUM(mon_cents) AS BIGINT) AS monetary_cents
            FROM cells GROUP BY 1, 2, 3""",
        "q_attribution": """
            WITH tagged AS (
              SELECT event_type, value,
                     last_value(CASE WHEN event_type IN ('click', 'view')
                                     THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS channel
              FROM events
            )
            SELECT COALESCE(channel, 'direct') AS channel,
                   COUNT(*) AS n_conversions,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
            FROM tagged WHERE event_type = 'purchase'
            GROUP BY 1""",
        "q_mad_outliers": """
            WITH li AS (
              SELECT l_returnflag,
                     CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * 2
                       AS cents2
              FROM lineitem
            ),
            med AS (
              SELECT l_returnflag,
                     CAST(quantile_cont(CAST(cents2 AS DOUBLE), 0.5)
                          AS BIGINT) AS med2
              FROM li GROUP BY l_returnflag
            ),
            dev AS (
              SELECT l.l_returnflag, m.med2,
                     abs(l.cents2 - m.med2) AS adev2
              FROM li l JOIN med m USING (l_returnflag)
            ),
            mad AS (
              SELECT l_returnflag, MIN(med2) AS med2,
                     CAST(quantile_cont(CAST(adev2 AS DOUBLE), 0.5) * 2
                          AS BIGINT) AS mad4,
                     COUNT(*) AS n
              FROM dev GROUP BY l_returnflag
            )
            SELECT d.l_returnflag, MIN(m.n) AS n,
                   MIN(m.med2) AS median_halfcents,
                   MIN(m.mad4) AS mad_quartercents,
                   CAST(SUM(CAST(20000 * d.adev2 > 44478 * m.mad4 AS INT))
                        AS BIGINT) AS n_outliers
            FROM dev d JOIN mad m USING (l_returnflag)
            GROUP BY d.l_returnflag""",
        "q_embed_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  >= 0.45""",
        "q_ann_bruteforce": """
            SELECT vec_id,
                   CAST(row_number() OVER (
                       ORDER BY list_cosine_similarity(
                           embedding::DOUBLE[],
                           (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0))
                       DESC, vec_id) AS INTEGER) AS rnk
            FROM embeddings WHERE vec_id <> 0
            QUALIFY rnk <= 10""",
        "q_ann_lsh": f"""
            WITH b AS (
              SELECT vec_id, embedding,
                     {", ".join(f"({_bucket_sql(6, 64, t * 6)}) AS bucket_{t}" for t in range(4))}
              FROM embeddings
            ),
            q AS (SELECT embedding AS qv,
                         {", ".join(f"bucket_{t} AS qb_{t}" for t in range(4))}
                  FROM b WHERE vec_id = 0)
            SELECT vec_id,
                   CAST(row_number() OVER (
                       ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[])
                       DESC, vec_id) AS INTEGER) AS rnk
            FROM b, q
            WHERE ({" OR ".join(f"b.bucket_{t} = q.qb_{t}" for t in range(4))})
              AND vec_id <> 0
            QUALIFY rnk <= 10""",
        "q_ann_ivf": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id < 16
            ),
            assigned AS (
              SELECT vec_id, embedding, cid AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.cid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1
            ),
            q AS (SELECT cell AS q_cell, embedding AS q_vec FROM assigned
                  WHERE vec_id = 0)
            SELECT vec_id,
                   CAST(row_number() OVER (
                       ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                                       q_vec::DOUBLE[])
                       DESC, vec_id) AS INTEGER) AS rnk
            FROM assigned, q
            WHERE cell = q_cell AND vec_id <> 0
            QUALIFY rnk <= 10""",
        "q_substring_dedup": _substring_dedup_oracle(k=5),
        "q_markov_attribution": _markov_attribution_oracle(),
        "q_asof_nearest": """
            WITH clicks AS (
              SELECT user_id, event_id, ts
              FROM (SELECT user_id, event_id, ts,
                           row_number() OVER (PARTITION BY user_id, ts
                                              ORDER BY event_id) AS rn
                    FROM events WHERE event_type = 'click')
              WHERE rn = 1),
            purchases AS (
              SELECT user_id, event_id, ts
              FROM events WHERE event_type = 'purchase'),
            b AS (
              SELECT p.user_id, p.event_id, p.ts,
                     c.event_id AS b_id, c.ts AS b_ts
              FROM purchases p
              ASOF LEFT JOIN clicks c
                ON p.user_id = c.user_id AND p.ts >= c.ts),
            f AS (
              SELECT p.user_id, p.event_id,
                     c.event_id AS f_id, c.ts AS f_ts
              FROM purchases p
              ASOF LEFT JOIN clicks c
                ON p.user_id = c.user_id AND p.ts <= c.ts)
            SELECT b.user_id, b.event_id,
                   epoch_us(b.ts) AS purchase_ts_us,
                   CASE WHEN b.b_id IS NULL THEN f.f_id
                        WHEN f.f_id IS NULL THEN b.b_id
                        WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                             <= epoch_us(f.f_ts) - epoch_us(b.ts)
                        THEN b.b_id ELSE f.f_id END AS click_event_id,
                   CASE WHEN b.b_id IS NULL THEN epoch_us(f.f_ts)
                        WHEN f.f_id IS NULL THEN epoch_us(b.b_ts)
                        WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                             <= epoch_us(f.f_ts) - epoch_us(b.ts)
                        THEN epoch_us(b.b_ts)
                        ELSE epoch_us(f.f_ts) END AS click_ts_us
            FROM b JOIN f
              ON b.user_id = f.user_id AND b.event_id = f.event_id""",
        "q_clustering_coeff": """
            WITH e AS (
              SELECT DISTINCT
                     least(o_custkey % 500, o_orderkey % 700) AS lo,
                     greatest(o_custkey % 500, o_orderkey % 700) AS hi
              FROM orders
              WHERE (o_custkey % 500) <> (o_orderkey % 700)
                AND least(o_custkey % 500, o_orderkey % 700)
                    < greatest(o_custkey % 500, o_orderkey % 700)),
            adj AS (
              SELECT lo AS w, hi AS u FROM e
              UNION ALL SELECT hi, lo FROM e),
            deg AS (
              SELECT w, COUNT(*) AS deg FROM adj GROUP BY w
              HAVING COUNT(*) >= 2),
            mid AS (SELECT a.w, a.u, d.deg FROM adj a JOIN deg d USING (w)),
            wedges AS (
              SELECT a.w, a.deg, a.u AS lo, b.u AS hi
              FROM mid a JOIN mid b ON a.w = b.w AND a.u < b.u),
            closed AS (
              SELECT wg.w, wg.deg FROM wedges wg
              WHERE EXISTS (SELECT 1 FROM e
                            WHERE e.lo = wg.lo AND e.hi = wg.hi)),
            tri AS (
              SELECT w, deg, CAST(COUNT(*) AS BIGINT) AS n_triangles
              FROM closed GROUP BY w, deg)
            SELECT d.w AS v, CAST(d.deg AS BIGINT) AS deg,
                   CAST(COALESCE(t.n_triangles, 0) AS BIGINT)
                     AS n_triangles,
                   CAST((2000000 * COALESCE(t.n_triangles, 0))
                        // (d.deg * (d.deg - 1)) AS BIGINT) AS coeff_ppm
            FROM deg d LEFT JOIN tri t ON d.w = t.w""",
        "q_event_motif": """
            WITH s AS (
              SELECT user_id,
                     string_agg(substr(event_type, 1, 1), ''
                                ORDER BY ts, event_id) AS seq
              FROM events GROUP BY user_id)
            SELECT user_id,
                   CAST(length(seq) AS BIGINT) AS seq_len,
                   CAST((length(seq) - length(replace(seq, 'vcp', '')))
                        // 3 AS BIGINT) AS n_motifs
            FROM s""",
        "q_l_diversity": """
            WITH g AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT
                          CAST(round(c_acctbal) AS BIGINT) % 10)
                          AS BIGINT) AS ndist
              FROM customer GROUP BY c_nationkey, c_mktsegment)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(CASE WHEN ndist < 3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_low_diversity,
                   CAST(SUM(CASE WHEN ndist < 3 THEN n ELSE 0 END)
                        AS BIGINT) AS n_rows_exposed,
                   CAST((1000000 * SUM(CASE WHEN ndist < 3 THEN n
                                            ELSE 0 END)) // SUM(n)
                        AS BIGINT) AS exposed_ppm
            FROM g""",
                "q_lttb_downsample": """
            WITH pts0 AS (
              SELECT event_type AS k,
                     CAST(round(value * 100) AS BIGINT) AS y,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS x,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events),
            pts AS (SELECT k, x, y, n, ((x - 1) * 32) // n AS b FROM pts0),
            aggs AS (SELECT k, b, COUNT(*) AS m,
                            SUM(x) AS sx, SUM(y) AS sy
                     FROM pts GROUP BY k, b),
            j AS (
              SELECT p.k, p.x, p.y, p.n, p.b,
                     pr.m AS np, pr.sx AS sxp, pr.sy AS syp,
                     nx.m AS nn, nx.sx AS sxn, nx.sy AS syn
              FROM pts p
              LEFT JOIN aggs pr ON p.k = pr.k AND pr.b = p.b - 1
              LEFT JOIN aggs nx ON p.k = nx.k AND nx.b = p.b + 1),
            r AS (
              SELECT *, CASE WHEN np IS NOT NULL AND nn IS NOT NULL THEN
                     abs((sxp * nn - sxn * np) * (y * np - syp)
                         - (sxp - x * np) * (syn * np - syp * nn))
                   ELSE 0 END AS area
              FROM j),
            rr AS (SELECT *, row_number() OVER (
                       PARTITION BY k, b ORDER BY area DESC, x ASC) AS rn
                   FROM r)
            SELECT k AS event_type, x AS pos, CAST(b AS INT) AS bucket,
                   y AS cents
            FROM rr
            WHERE x = 1 OR x = n
               OR (np IS NOT NULL AND nn IS NOT NULL AND rn = 1)""",
        "q_term_kl_drift": """
            WITH t AS (
              SELECT CAST(doc_id % 2 AS INT) AS side,
                     unnest(string_split_regex(trim(text), ' +')) AS term
              FROM documents),
            tf AS (SELECT side, term FROM t WHERE term <> ''),
            c AS (
              SELECT term,
                     SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na,
                     SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb
              FROM tf GROUP BY term),
            tot AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS v,
                     CAST(SUM(na) AS BIGINT) AS ta,
                     CAST(SUM(nb) AS BIGINT) AS tb
              FROM c),
            terms AS (
              SELECT CAST(ROUND(1e9 * (CAST(na + 1 AS DOUBLE)
                                       / CAST(ta + v AS DOUBLE))
                         * ln((CAST(na + 1 AS DOUBLE)
                               / CAST(ta + v AS DOUBLE))
                              / (CAST(nb + 1 AS DOUBLE)
                                 / CAST(tb + v AS DOUBLE))), 0)
                         AS BIGINT) AS t_ab,
                     CAST(ROUND(1e9 * (CAST(nb + 1 AS DOUBLE)
                                       / CAST(tb + v AS DOUBLE))
                         * ln((CAST(nb + 1 AS DOUBLE)
                               / CAST(tb + v AS DOUBLE))
                              / (CAST(na + 1 AS DOUBLE)
                                 / CAST(ta + v AS DOUBLE))), 0)
                         AS BIGINT) AS t_ba,
                     ta, tb
              FROM c, tot)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(MIN(ta) AS BIGINT) AS tot_a,
                   CAST(MIN(tb) AS BIGINT) AS tot_b,
                   CAST(SUM(t_ab) AS BIGINT) AS kl_ab_e9,
                   CAST(SUM(t_ba) AS BIGINT) AS kl_ba_e9
            FROM terms""",
        "q_pca_pc1": _pca_pc1_oracle(),
        "q_kfold_loo": """
            WITH o AS (
              SELECT CAST(('0x' || substr(md5('fold'
                         || CAST(o_orderkey AS VARCHAR)), 1, 15))
                         AS BIGINT) % 5 AS fold,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            per AS (
              SELECT fold, CAST(SUM(cents) AS BIGINT) AS s,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM o GROUP BY fold),
            tot AS (
              SELECT CAST(SUM(s) AS BIGINT) AS ts,
                     CAST(SUM(n) AS BIGINT) AS tn FROM per)
            SELECT CAST(fold AS INT) AS fold, n AS n_holdout,
                   CAST(ROUND(10.0 * s / n, 0) AS BIGINT)
                     AS holdout_mean_mc,
                   CAST(ROUND(10.0 * (ts - s) / (tn - n), 0) AS BIGINT)
                     AS train_mean_mc
            FROM per, tot""",
        "q_k_anonymity": """
            WITH g AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(c_acctbal < 0 AS INT) AS bal_neg,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM customer
              GROUP BY c_nationkey, c_mktsegment, bal_neg)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_violating_groups,
                   CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                     AS n_rows_at_risk,
                   CAST((1000000 * SUM(CASE WHEN n < 5 THEN n ELSE 0 END))
                        // SUM(n) AS BIGINT) AS risk_ppm
            FROM g""",
        "q_quantile_normalize": """
            WITH s AS (SELECT doc_id AS id, source AS grp,
                              n_chars AS score FROM documents),
            tot AS (SELECT COUNT(*) AS n FROM s),
            r AS (SELECT id, grp, score,
                    row_number() OVER (PARTITION BY grp
                                       ORDER BY score, id) AS rn,
                    COUNT(*) OVER (PARTITION BY grp) AS cnt
                  FROM s),
            g AS (SELECT score AS norm_score,
                    row_number() OVER (ORDER BY score, id) AS trank
                  FROM s),
            t AS (SELECT id, grp, score,
                    CASE WHEN cnt = 1 THEN (n - 1) // 2 + 1
                         ELSE CAST(ROUND((rn - 1) / (cnt - 1) * (n - 1),
                                         0) AS BIGINT) + 1
                    END AS trank
                  FROM r, tot)
            SELECT t.id AS doc_id, t.grp AS source, t.score,
                   g.norm_score
            FROM t JOIN g USING (trank)""",
        "q_embed_covariance": """
            WITH q AS (
              SELECT list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                   AS BIGINT)) AS arr
              FROM embeddings),
            a AS (SELECT arr, unnest(range(0, len(arr))) AS i FROM q),
            a2 AS (SELECT arr, CAST(i AS INT) AS i, arr[i + 1] AS xi
                   FROM a),
            b AS (SELECT i, xi, arr,
                         unnest(range(i, len(arr))) AS j FROM a2),
            b2 AS (SELECT i, CAST(j AS INT) AS j, xi, arr[j + 1] AS xj
                   FROM b),
            agg AS (
              SELECT i, j,
                     CAST(COUNT(*) AS BIGINT) AS n_vecs,
                     CAST(SUM(xi * xj) AS BIGINT) AS sum_xy,
                     CAST(SUM(xi) AS BIGINT) AS sum_x,
                     CAST(SUM(xj) AS BIGINT) AS sum_y
              FROM b2 GROUP BY i, j)
            SELECT i, j, n_vecs, sum_xy, sum_x, sum_y,
                   CAST(floor((sum_xy / n_vecs
                               - (sum_x / n_vecs) * (sum_y / n_vecs))
                              * 1000.0) AS BIGINT) AS cov_milli
            FROM agg""",
        "q_hll_sliding": _hll_sliding_oracle(),
        "q_incremental_agg": """
            SELECT o_orderpriority,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY o_orderpriority""",
        "q_bootstrap_ci": """
            WITH o AS (
              SELECT o_orderkey AS id,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            r AS (
              SELECT id, cents, unnest(range(0, 40)) AS b FROM o),
            u AS (
              SELECT b, cents,
                     CAST(('0x' || substr(md5('bs' || CAST(b AS VARCHAR)
                          || '_' || CAST(id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 1000 AS u
              FROM r),
            wts AS (
              SELECT b, cents, CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2 WHEN u < 981 THEN 3 WHEN u < 996 THEN 4 ELSE 5 END AS w FROM u),
            reps AS (
              SELECT b,
                     CAST(ROUND(10.0 * SUM(w * cents) / SUM(w), 0)
                          AS BIGINT) AS mean_mc
              FROM wts GROUP BY b),
            pt AS (
              SELECT CAST(floor(CAST(SUM(cents) AS DOUBLE) / COUNT(*)
                                * 10.0) AS BIGINT) AS mean_mc_point
              FROM o),
            arr AS (SELECT list(mean_mc ORDER BY mean_mc) AS a FROM reps)
            SELECT CAST(len(a) AS BIGINT) AS n_boot,
                   pt.mean_mc_point,
                   a[2] AS ci_lo_mc,
                   a[40] AS ci_hi_mc
            FROM arr, pt""",
        "q_zonemap_prune": """
            SELECT l_orderkey // 65536 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(l_shipdate) AS stat_min,
                   MAX(l_shipdate) AS stat_max,
                   CASE WHEN MAX(l_shipdate) < DATE '1996-01-01'
                             OR MIN(l_shipdate) > DATE '1996-03-31'
                        THEN 'skip'
                        WHEN MIN(l_shipdate) >= DATE '1996-01-01'
                             AND MAX(l_shipdate) <= DATE '1996-03-31'
                        THEN 'full'
                        ELSE 'partial' END AS verdict
            FROM lineitem GROUP BY bucket""",
        "q_theilsen": """
            WITH m AS (
              SELECT o_orderpriority AS g,
                     (year(o_orderdate) - 1995) * 12
                       + month(o_orderdate) - 1 AS mx,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS rev
              FROM orders GROUP BY g, mx),
            p AS (
              SELECT a.g,
                     CAST(ROUND((b.rev - a.rev)
                                / (b.mx - a.mx), 0) AS BIGINT) AS slope
              FROM m a JOIN m b ON a.g = b.g AND a.mx < b.mx),
            np AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_points
                   FROM m GROUP BY g)
            SELECT p.g AS o_orderpriority, np.n_points,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   quantile_cont(p.slope, 0.5) AS slope_median
            FROM p JOIN np USING (g)
            GROUP BY p.g, np.n_points""",
        "q_apply_in_arrow": """
            SELECT c_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS sum_cents,
                   CAST(MAX(CAST(round(c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS max_cents
            FROM customer GROUP BY c_nationkey""",
        "q_interp_linear": """
            WITH ev AS (SELECT user_id, event_id, value,
                               epoch_us(ts) AS us,
                               epoch_us(ts) // 3600000000 AS bucket
                        FROM events),
            pbk AS (SELECT user_id, bucket, v FROM (
                     SELECT user_id, bucket, value AS v,
                            row_number() OVER (
                                PARTITION BY user_id, bucket
                                ORDER BY us DESC, event_id DESC) AS rn
                     FROM ev)
                   WHERE rn = 1),
            span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
                     FROM ev GROUP BY user_id),
            grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
                     FROM span),
            j AS (SELECT g.user_id, g.bucket, pbk.v
                  FROM grid g LEFT JOIN pbk
                    ON g.user_id = pbk.user_id AND g.bucket = pbk.bucket),
            m AS (SELECT user_id, bucket, v,
                   last_value(CASE WHEN v IS NOT NULL THEN bucket END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pb,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pv,
                   first_value(CASE WHEN v IS NOT NULL THEN bucket END
                               IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nb,
                   first_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nv
                  FROM j)
            SELECT user_id, bucket,
                   CASE WHEN v IS NOT NULL THEN v
                        ELSE pv + (nv - pv) * (bucket - pb) / (nb - pb)
                   END AS value_interp,
                   CAST(v IS NOT NULL AS INT) AS is_observed
            FROM m""",
        "q_geohash": _geohash_oracle(),
        "q_acf": _acf_oracle(),
        "q_adamic_adar": """
            WITH e AS (
              SELECT DISTINCT
                     least(o_custkey % 4000, (o_orderkey % 6000) + 4000) AS lo,
                     greatest(o_custkey % 4000, (o_orderkey % 6000) + 4000) AS hi
              FROM orders
              WHERE least(o_custkey % 4000, (o_orderkey % 6000) + 4000)
                    < greatest(o_custkey % 4000, (o_orderkey % 6000) + 4000)),
            adj AS (
              SELECT lo AS w, hi AS u FROM e
              UNION ALL SELECT hi, lo FROM e),
            deg AS (
              SELECT w, COUNT(*) AS deg FROM adj GROUP BY w
              HAVING COUNT(*) >= 2 AND COUNT(*) <= 300),
            mid AS (
              SELECT a.w, a.u,
                     CAST(ROUND(1e9 / ln(CAST(d.deg AS DOUBLE)), 0)
                          AS BIGINT) AS term
              FROM adj a JOIN deg d USING (w)),
            p AS (
              SELECT a.u AS u, b.u AS v,
                     CAST(COUNT(*) AS BIGINT) AS common,
                     CAST(SUM(a.term) AS BIGINT) AS aa_scaled
              FROM mid a JOIN mid b ON a.w = b.w AND a.u < b.u
              GROUP BY a.u, b.u)
            SELECT u, v, common, aa_scaled FROM p
            WHERE NOT EXISTS (
              SELECT 1 FROM e WHERE e.lo = p.u AND e.hi = p.v)""",
        "q_conversion_funnel": """
            WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                       WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, MIN(e.ts) AS t2
                  FROM events e JOIN v ON e.user_id = v.user_id
                  WHERE e.event_type = 'click' AND e.ts > v.t1
                  GROUP BY e.user_id),
            p AS (SELECT e.user_id, MIN(e.ts) AS t3
                  FROM events e JOIN c ON e.user_id = c.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.t2
                  GROUP BY e.user_id),
            a AS (SELECT COUNT(*) AS n_view,
                         COUNT(t2) AS n_click_after_view,
                         COUNT(t3) AS n_purchase_after_click
                  FROM v LEFT JOIN c USING (user_id)
                         LEFT JOIN p USING (user_id))
            SELECT CAST(n_view AS BIGINT) AS n_view,
                   CAST(n_click_after_view AS BIGINT) AS n_click_after_view,
                   CAST(n_purchase_after_click AS BIGINT)
                       AS n_purchase_after_click,
                   CASE WHEN n_view > 0
                        THEN CAST(floor(n_click_after_view / n_view
                                        * 1000000.0) AS BIGINT)
                        END AS view_to_click_ppm,
                   CASE WHEN n_click_after_view > 0
                        THEN CAST(floor(n_purchase_after_click
                                        / n_click_after_view
                                        * 1000000.0) AS BIGINT)
                        END AS click_to_purchase_ppm
            FROM a""",
        "q_retention_cohorts": """
            WITH active AS (
              SELECT DISTINCT user_id,
                     CAST(floor((CAST(ts AS DATE) - DATE '1970-01-05') / 7)
                          AS INTEGER) AS wk
              FROM events),
            cohort AS (SELECT user_id, MIN(wk) AS cw FROM active
                       GROUP BY user_id),
            sizes AS (SELECT cw, COUNT(*) AS cohort_size FROM cohort
                      GROUP BY cw),
            j AS (SELECT c.cw, a.wk - c.cw AS week_k, COUNT(*) AS n_active
                  FROM active a JOIN cohort c USING (user_id)
                  GROUP BY c.cw, a.wk - c.cw)
            SELECT cw AS cohort_week,
                   CAST(week_k AS INTEGER) AS week_k,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(cohort_size AS BIGINT) AS cohort_size,
                   CAST(floor(n_active / cohort_size * 1000000.0) AS BIGINT)
                       AS retention_ppm
            FROM j JOIN sizes USING (cw)""",
        "q_dsir_weights": """
            WITH wc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents),
            wt AS (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents WHERE lang = 'en'),
            cr AS (SELECT w, COUNT(*) AS cr FROM wc GROUP BY w),
            ct AS (SELECT w, COUNT(*) AS ct FROM wt GROUP BY w),
            stats AS (SELECT cr.w, cr.cr, COALESCE(ct.ct, 0) AS ct
                      FROM cr LEFT JOIN ct USING (w)),
            tot AS (SELECT CAST(SUM(cr) AS DOUBLE) AS nr,
                           CAST(SUM(ct) AS DOUBLE) AS nt,
                           CAST(COUNT(*) AS DOUBLE) AS v
                    FROM stats),
            scored AS (SELECT w,
                              CAST(floor((ln((ct + 1) / (nt + v))
                                          - ln((cr + 1) / (nr + v)))
                                         * 1000000000.0) AS BIGINT)
                                  AS term_nano
                       FROM stats, tot),
            dc AS (SELECT doc_id, w, COUNT(*) AS cw FROM wc
                   GROUP BY doc_id, w)
            SELECT doc_id, CAST(SUM(cw) AS BIGINT) AS n_tokens,
                   CAST(SUM(cw * term_nano) AS BIGINT) AS logw_nano
            FROM dc JOIN scored USING (w) GROUP BY doc_id""",
        "q_hits": _hits_oracle(2),
        "q_burst_detect": _burst_oracle(),
        "q_sssp": _sssp_oracle(3),
        "q_kcenter": _kcenter_oracle(4),
        "q_weighted_topk_sample": """
            WITH keyed AS (
              SELECT doc_id, source, n_chars,
                     CAST(floor(
                         ln(((CAST(('0x' || substr(md5(
                                 'aes|' || CAST(doc_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) % 1048576) * 2 + 1)
                            / 2097152.0)
                         / CAST(n_chars AS DOUBLE) * 1000000000.0)
                       AS BIGINT) AS sel_key_e9
              FROM documents)
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                   sel_key_e9
            FROM keyed
            ORDER BY sel_key_e9 DESC, doc_id LIMIT 100""",
        "q_scene_changes": """
            WITH f AS (
              SELECT doc_id, CAST(fi AS INTEGER) AS fi,
                     substr(text, CAST(fi * 64 + 1 AS INTEGER), 64) AS fr
              FROM (SELECT doc_id, text,
                           unnest(range(0, length(text) // 64)) AS fi
                    FROM documents)),
            pairs AS (
              SELECT a.doc_id, b.fi, a.fr AS fa, b.fr AS fb
              FROM f a JOIN f b
                ON a.doc_id = b.doc_id AND b.fi = a.fi + 1),
            d AS (
              SELECT doc_id, fi,
                     SUM(abs(ord(substr(fa, CAST(i AS INTEGER), 1))
                             - ord(substr(fb, CAST(i AS INTEGER), 1))))
                         AS delta_l1
              FROM pairs, UNNEST(generate_series(1, 64)) AS u(i)
              GROUP BY doc_id, fi)
            SELECT doc_id, fi AS frame_idx,
                   CAST(delta_l1 AS BIGINT) AS delta_l1,
                   delta_l1 >= 1500 AS is_scene_change
            FROM d""",
        "q_keyframes": """
            WITH f AS (
              SELECT doc_id, CAST(fi AS INTEGER) AS fi,
                     substr(text, CAST(fi * 64 + 1 AS INTEGER), 64) AS fr
              FROM (SELECT doc_id, text,
                           unnest(range(0, length(text) // 64)) AS fi
                    FROM documents)),
            pairs AS (
              SELECT a.doc_id, b.fi, a.fr AS fa, b.fr AS fb
              FROM f a JOIN f b
                ON a.doc_id = b.doc_id AND b.fi = a.fi + 1),
            d AS (
              SELECT doc_id, fi,
                     SUM(abs(ord(substr(fa, CAST(i AS INTEGER), 1))
                             - ord(substr(fb, CAST(i AS INTEGER), 1))))
                         AS delta_l1
              FROM pairs, UNNEST(generate_series(1, 64)) AS u(i)
              GROUP BY doc_id, fi)
            SELECT doc_id,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY delta_l1 DESC, fi)
                        AS INT) AS rnk,
                   fi AS frame_idx,
                   CAST(delta_l1 AS BIGINT) AS delta_l1
            FROM d
            QUALIFY rnk <= 2""",
        "q_twap": f"""
            WITH d AS (
              SELECT event_type,
                     CAST(floor(value * 100) AS BIGINT) AS v_cents,
                     epoch_us(LEAD(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       - epoch_us(ts) AS dt_us
              FROM events),
            g AS (SELECT event_type,
                         SUM(CAST(v_cents AS HUGEINT) * dt_us) AS vt_sum_x,
                         SUM(dt_us) AS t_sum_x
                  FROM d WHERE dt_us IS NOT NULL GROUP BY event_type)
            SELECT event_type,
                   {det_double_sql("vt_sum_x")} AS vt_sum,
                   {det_double_sql("t_sum_x")} AS t_sum,
                   CAST(vt_sum_x // GREATEST(t_sum_x, 1) AS BIGINT)
                       AS twap_cents
            FROM g""",
        "q_bucket_diff": """
            WITH canon AS (
              SELECT o_orderkey,
                     CAST(('0x' || substr(md5(
                         CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 64 AS bucket,
                     CAST(('0x' || substr(md5(
                         CAST(o_orderkey AS VARCHAR) || '|'
                         || CAST(o_custkey AS VARCHAR) || '|'
                         || o_orderstatus), 1, 15)) AS BIGINT) AS h
              FROM orders),
            a AS (SELECT bucket, COUNT(*) AS n_rows_a,
                         bit_xor(h) AS checksum_a
                  FROM canon GROUP BY bucket),
            b AS (SELECT bucket, COUNT(*) AS n_rows_b,
                         bit_xor(h) AS checksum_b
                  FROM canon WHERE o_orderkey % 997 != 3 GROUP BY bucket)
            SELECT CAST(bucket AS INTEGER) AS bucket,
                   CAST(COALESCE(n_rows_a, 0) AS BIGINT) AS n_rows_a,
                   CAST(COALESCE(n_rows_b, 0) AS BIGINT) AS n_rows_b,
                   CAST(COALESCE(checksum_a, 0) AS BIGINT) AS checksum_a,
                   CAST(COALESCE(checksum_b, 0) AS BIGINT) AS checksum_b
            FROM a FULL OUTER JOIN b USING (bucket)
            WHERE NOT (checksum_a IS NOT DISTINCT FROM checksum_b
                       AND n_rows_a IS NOT DISTINCT FROM n_rows_b)
            ORDER BY bucket""",
        "q_fuzzy_names": """
            WITH names AS (SELECT p_name AS name, COUNT(*) AS n_rows,
                                  length(p_name) AS len
                           FROM part GROUP BY p_name)
            SELECT a.name AS name_a, b.name AS name_b,
                   CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
                   CAST(a.n_rows AS BIGINT) AS n_rows_a,
                   CAST(b.n_rows AS BIGINT) AS n_rows_b
            FROM names a JOIN names b
              ON (a.len < b.len OR (a.len = b.len AND a.name < b.name))
            WHERE levenshtein(a.name, b.name) <= 3""",
        "q_dp_histogram": """
            WITH c AS (
              SELECT event_type,
                     CAST(dayofweek(ts) AS INTEGER) AS dow,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            k AS (
              SELECT event_type, dow, n,
                     (CAST(('0x' || substr(md5(
                          event_type || '|' || CAST(dow AS VARCHAR)),
                          1, 15)) AS BIGINT) % 1048576) * 2 + 1
                       - 1048576 AS num
              FROM c)
            SELECT event_type, dow, CAST(n AS BIGINT) AS n,
                   CAST(n * 1000000
                        + CAST(floor(sign(num)
                            * -ln((1048576 - abs(num)) / 1048576.0)
                            / 1.0 * 1000000.0) AS BIGINT)
                        AS BIGINT) AS noisy_count_e6
            FROM k""",
        "q_repetition_stats": """
            WITH base AS (SELECT doc_id, string_split(text, ' ') AS arr,
                                 len(string_split(text, ' ')) AS n
                          FROM documents),
            big AS (SELECT doc_id,
                           arr[CAST(i AS INTEGER)] || ' '
                             || arr[CAST(i AS INTEGER) + 1] AS g
                    FROM base,
                         UNNEST(generate_series(1, n - 1)) AS u(i)
                    WHERE n >= 2),
            tb AS (SELECT doc_id, MAX(c) AS top_bigram_cnt
                   FROM (SELECT doc_id, g, COUNT(*) AS c FROM big
                         GROUP BY doc_id, g) GROUP BY doc_id),
            g5 AS (SELECT doc_id, CAST(p AS INTEGER) AS p,
                          array_to_string(
                              arr[CAST(p AS INTEGER):CAST(p AS INTEGER) + 4],
                              ' ') AS g
                   FROM base,
                        UNNEST(generate_series(1, n - 4)) AS u(p)
                   WHERE n >= 5),
            dup AS (SELECT doc_id, p,
                           COUNT(*) OVER (PARTITION BY doc_id, g) AS cnt
                    FROM g5),
            dp AS (SELECT doc_id, p,
                          LAG(p) OVER (
                              PARTITION BY doc_id ORDER BY p) AS prev_p
                   FROM dup WHERE cnt >= 2),
            cov AS (SELECT doc_id,
                           SUM(CASE WHEN prev_p IS NULL THEN 5
                                    ELSE LEAST(p - prev_p, 5) END)
                               AS dup5_tokens
                    FROM dp GROUP BY doc_id)
            SELECT b.doc_id, CAST(n AS BIGINT) AS n_tokens,
                   CAST(COALESCE(top_bigram_cnt, 0) AS BIGINT)
                       AS top_bigram_cnt,
                   CAST(COALESCE(top_bigram_cnt, 0) * 2000000
                        // GREATEST(n, 1) AS BIGINT) AS top_bigram_ppm,
                   CAST(COALESCE(dup5_tokens, 0) AS BIGINT) AS dup5_tokens,
                   CAST(COALESCE(dup5_tokens, 0) * 1000000
                        // GREATEST(n, 1) AS BIGINT) AS dup5_ppm
            FROM base b LEFT JOIN tb USING (doc_id)
                 LEFT JOIN cov USING (doc_id)""",
        "q_vocab_growth": """
            WITH toks AS (SELECT doc_id,
                                 unnest(string_split(text, ' ')) AS w
                          FROM documents),
            first AS (SELECT w, MIN(doc_id) AS first_id FROM toks
                      GROUP BY w),
            per_doc AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks
                        GROUP BY doc_id),
            grid AS (SELECT CAST(k AS INTEGER) AS k,
                            (SELECT MAX(doc_id) FROM documents) * k // 10
                                AS threshold_id
                     FROM generate_series(1, 10) AS t(k)),
            vocab AS (SELECT k, threshold_id, COUNT(*) AS vocab_size
                      FROM first JOIN grid ON first_id <= threshold_id
                      GROUP BY k, threshold_id),
            docs AS (SELECT k, threshold_id, COUNT(*) AS n_docs,
                            SUM(n_tok) AS n_tokens
                     FROM per_doc JOIN grid ON doc_id <= threshold_id
                     GROUP BY k, threshold_id)
            SELECT k, CAST(threshold_id AS BIGINT) AS threshold_id,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(vocab_size AS BIGINT) AS vocab_size
            FROM docs JOIN vocab USING (k, threshold_id)""",
        "q_dwell_time": """
            WITH d AS (
              SELECT event_type,
                     epoch_us(LEAD(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       - epoch_us(ts) AS dwell_us
              FROM events)
            SELECT event_type,
                   CAST(COUNT(dwell_us) AS BIGINT) AS n_followed,
                   CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
                   CAST(SUM(dwell_us) // GREATEST(COUNT(dwell_us), 1)
                        AS BIGINT) AS mean_dwell_us
            FROM d GROUP BY event_type""",
        "q_supplier_hindex": """
            WITH r AS (
              SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty,
                     ROW_NUMBER() OVER (
                         PARTITION BY l_suppkey
                         ORDER BY CAST(l_quantity AS BIGINT) DESC) AS rnk
              FROM lineitem)
            SELECT l_suppkey, CAST(MAX(rnk) AS BIGINT) AS h_index
            FROM r WHERE rnk <= qty GROUP BY l_suppkey
            HAVING MAX(rnk) >= 30""",
        "q_cdc_chunks": """
            WITH d AS (SELECT doc_id, source, text,
                              length(text) AS len FROM documents),
            b AS (SELECT doc_id, least(p + 15, len) AS cut
                  FROM d, UNNEST(generate_series(
                            1, greatest(len - 15, 1))) AS u(p)
                  WHERE CAST(('0x' || substr(md5(substr(
                            text, CAST(p AS INTEGER), 16)), 1, 15))
                          AS BIGINT) % 64 = 0),
            ends AS (SELECT doc_id, cut FROM b
                     UNION ALL SELECT doc_id, len FROM d),
            o AS (SELECT doc_id, cut,
                         COALESCE(LAG(cut) OVER (
                             PARTITION BY doc_id ORDER BY cut), 0) AS prev
                  FROM ends),
            chunks AS (
              SELECT o.doc_id, d.source, cut - prev AS chunk_len,
                     CAST(('0x' || substr(md5(substr(d.text,
                              CAST(prev + 1 AS INTEGER),
                              CAST(cut - prev AS INTEGER))), 1, 15))
                          AS BIGINT) AS chunk_hash
              FROM o JOIN d USING (doc_id) WHERE cut - prev > 0),
            per_hash AS (SELECT source, chunk_hash, COUNT(*) AS n,
                                MIN(chunk_len) AS clen
                         FROM chunks GROUP BY source, chunk_hash)
            SELECT source, CAST(SUM(n) AS BIGINT) AS n_chunks,
                   CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
                   CAST(SUM(n * clen) AS BIGINT) AS total_bytes,
                   CAST(SUM(clen) AS BIGINT) AS unique_bytes,
                   CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n)
                        AS BIGINT) AS dup_ppm
            FROM per_hash GROUP BY source""",
        "q_geo_radius_join": """
            WITH cc AS (
              SELECT c_custkey,
                     CAST((c_custkey % 120) - 60 + 0.25 AS DOUBLE) AS clat,
                     CAST(((c_custkey * 7) % 360) - 180 + 0.25 AS DOUBLE)
                         AS clon
              FROM customer),
            ss AS (
              SELECT s_suppkey,
                     CAST((s_suppkey % 100) - 50 + 0.5 AS DOUBLE) AS slat,
                     CAST(((s_suppkey * 11) % 360) - 180 + 0.5 AS DOUBLE)
                         AS slon
              FROM supplier),
            d AS (
              SELECT c_custkey, s_suppkey,
                     CAST(floor(2.0 * 6371000.0 * asin(sqrt(
                         sin(radians(clat - slat) / 2)
                           * sin(radians(clat - slat) / 2)
                         + cos(radians(slat)) * cos(radians(clat))
                           * sin(radians(clon - slon) / 2)
                           * sin(radians(clon - slon) / 2))) + 0.5)
                          AS BIGINT) AS dist_m
              FROM cc, ss)
            SELECT c_custkey, s_suppkey, dist_m
            FROM d WHERE dist_m < 300000""",
        "q_embed_decontaminate": """
            WITH cc AS (
              SELECT vec_id AS cid,
                     CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6
                                + 0.5) AS BIGINT) AS qc
              FROM embeddings WHERE vec_id % 20 <> 0),
            ec AS (
              SELECT vec_id AS eid,
                     CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6
                                + 0.5) AS BIGINT) AS qe
              FROM embeddings WHERE vec_id % 20 = 0),
            cn AS (SELECT cid, SUM(qc * qc) AS na2 FROM cc GROUP BY cid),
            en AS (SELECT eid, SUM(qe * qe) AS nb2 FROM ec GROUP BY eid),
            dots AS (SELECT cid, eid, SUM(qc * qe) AS dot
                     FROM cc JOIN ec USING (pos) GROUP BY cid, eid),
            hits AS (
              SELECT cid, COUNT(*) AS n_eval_hits
              FROM dots JOIN cn USING (cid) JOIN en USING (eid)
              WHERE dot > 0
                AND CAST(dot AS HUGEINT) * dot * 10000
                    >= 8100 * CAST(na2 AS HUGEINT) * nb2
              GROUP BY cid)
            SELECT e.vec_id,
                   CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT)
                       AS n_eval_hits,
                   COALESCE(h.n_eval_hits, 0) > 0 AS is_contaminated
            FROM (SELECT vec_id FROM embeddings WHERE vec_id % 20 <> 0) e
            LEFT JOIN hits h ON e.vec_id = h.cid""",
        "q_gopher_quality": """
            WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                       FROM documents),
            c AS (SELECT doc_id,
                         CAST(len(ws) AS INTEGER) AS n_words,
                         length(text) - len(ws) + 1 AS sum_wl,
                         CAST(len(list_filter(ws,
                                  x -> regexp_matches(x, '[a-z]')))
                              AS INTEGER) AS alpha_words,
                         CAST(len(list_intersect(list_distinct(ws),
                                  ['the', 'a', 'and', 'of', 'to']))
                              AS INTEGER) AS stop_hits
                  FROM w)
            SELECT doc_id, n_words, alpha_words, stop_hits,
                   (n_words >= 5 AND n_words <= 100000) AS ok_nwords,
                   (sum_wl >= 2 * n_words AND sum_wl <= 12 * n_words)
                       AS ok_mwl,
                   (5 * alpha_words >= 4 * n_words) AS ok_alpha,
                   (stop_hits >= 1) AS ok_stop,
                   ((n_words >= 5 AND n_words <= 100000)
                    AND (sum_wl >= 2 * n_words AND sum_wl <= 12 * n_words)
                    AND (5 * alpha_words >= 4 * n_words)
                    AND (stop_hits >= 1)) AS passes
            FROM c""",
        "q_text_quality": """
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                   CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
                       AS n_distinct_words,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS type_token_ratio,
                   CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                       / len(string_split(text, ' ')) AS mean_word_len,
                   CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       / length(text) AS punct_ratio
            FROM documents""",
        "q_token_count": f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS INTEGER)
                       AS re_tokens
            FROM documents""",
        "q_lang_id": f"""
            WITH w AS (
              SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
              FROM documents
            )
            SELECT doc_id,
                   {", ".join(f"CAST({lang_scores[lang]} AS INTEGER) AS score_{lang}" for lang in LANG_MARKERS)},
                   {lang_case} AS pred_lang
            FROM w""",
        "q_fingerprint": """
            SELECT doc_id,
                   md5(lower(text)) AS fp_full,
                   md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp_head
            FROM documents""",
        "q_events_window": """
            SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2""",
        "q_asof_join": """
            WITH clicks AS (
              SELECT user_id, event_id, ts, value
              FROM (SELECT user_id, event_id, ts, value,
                           row_number() OVER (PARTITION BY user_id, ts
                                              ORDER BY event_id) AS rn
                    FROM events WHERE event_type = 'click')
              WHERE rn = 1),
            purchases AS (
              SELECT user_id, event_id, ts
              FROM events WHERE event_type = 'purchase')
            SELECT p.user_id, p.event_id,
                   epoch_us(p.ts) AS purchase_ts_us,
                   c.event_id AS click_event_id,
                   c.value AS click_value
            FROM purchases p
            ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts""",
        "q_range_join": """
            WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
            b AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
            ks AS (
              SELECT unnest(range(lo // 604800000000 - 1,
                                  hi // 604800000000 + 1)) AS k FROM b),
            w AS (SELECT k * 604800000000 AS w_start,
                         (k + 2) * 604800000000 AS w_end FROM ks)
            SELECT w_start, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM ev JOIN w ON w_start <= us AND us < w_end
            GROUP BY w_start""",
        "q_dedup_clusters": f"""
            WITH RECURSIVE {_JACCARD_CTE},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b AS a, doc_a AS b FROM pairs),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS doc_id,
                   least(a, MIN(b)) AS cluster_id,
                   a = least(a, MIN(b)) AS is_keeper
            FROM reach GROUP BY a""",
        "q_split_assign": """
            SELECT doc_id,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST(('0x' || substr(md5('split' ||
                              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 10000 AS b
                  FROM documents)""",
        "q_weighted_sample": """
            SELECT doc_id, source, n_chars
            FROM documents
            WHERE CAST(('0x' || substr(md5('wsample' ||
                      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
                  < least(10000, CAST(floor(
                        least(1.0, n_chars / 2000.0) * 10000) AS BIGINT))""",
        "q_stratified_sample": """
            SELECT o_orderkey, o_orderpriority, sample_rank
            FROM (SELECT o_orderkey, o_orderpriority,
                         CAST(row_number() OVER (
                             PARTITION BY o_orderpriority
                             ORDER BY CAST(('0x' || substr(md5('sample' ||
                                  CAST(o_orderkey AS VARCHAR)), 1, 15))
                                  AS BIGINT), o_orderkey) AS INT)
                           AS sample_rank
                  FROM orders)
            WHERE sample_rank <= 10""",
        "q_tfidf": """
            WITH tokens AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf
                   FROM tokens GROUP BY doc_id, word),
            dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, word,
                     CAST(floor(tf * ln(n_docs / df) * 1e6 + 0.5) AS BIGINT)
                       AS score_e6
              FROM tf JOIN dfreq USING (word) CROSS JOIN n)
            SELECT doc_id, word, score_e6, rnk FROM (
              SELECT doc_id, word, score_e6,
                     CAST(row_number() OVER (
                         PARTITION BY doc_id
                         ORDER BY score_e6 DESC, word) AS INT) AS rnk
              FROM scored)
            WHERE rnk <= 5""",
        "q_table_checksum": """
            SELECT COUNT(*) AS n_rows,
                   bit_xor(CAST(('0x' || substr(md5(
                       concat_ws('|',
                           COALESCE(CAST(l_orderkey AS VARCHAR), '\\N'),
                           COALESCE(CAST(l_linenumber AS VARCHAR), '\\N'),
                           COALESCE(CAST(l_partkey AS VARCHAR), '\\N'),
                           COALESCE(CAST(l_suppkey AS VARCHAR), '\\N'),
                           COALESCE(l_returnflag, '\\N'),
                           COALESCE(l_linestatus, '\\N'))), 1, 15))
                       AS BIGINT)) AS checksum
            FROM lineitem""",
        "q_pack_sequences": """
            WITH d AS (SELECT doc_id,
                              len(string_split(text, ' ')) AS toks,
                              CAST(('0x' || substr(md5('pack' ||
                                   CAST(doc_id AS VARCHAR)), 1, 15))
                                   AS BIGINT) AS h
                       FROM documents),
            c AS (SELECT doc_id, CAST(h % 8 AS INT) AS shard, toks,
                         SUM(toks) OVER (
                             PARTITION BY h % 8 ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
                  FROM d)
            SELECT doc_id, shard,
                   CAST((cum - toks) // 512 AS INT) AS seq,
                   CAST(cum - toks AS BIGINT) AS start_tok
            FROM c""",
        "q_scalar_subquery": """
            WITH t AS (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS sum_total,
                              COUNT(*) AS n_orders
                       FROM orders)
            SELECT o_orderpriority, COUNT(*) AS n_above_avg
            FROM orders, t
            WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n_orders > sum_total
            GROUP BY o_orderpriority""",
        "q_resample_ffill": """
            WITH ev AS (SELECT user_id, event_id, value,
                               epoch_us(ts) AS us,
                               epoch_us(ts) // 3600000000 AS bucket
                        FROM events),
            pb AS (SELECT user_id, bucket, v FROM (
                     SELECT user_id, bucket, value AS v,
                            row_number() OVER (
                                PARTITION BY user_id, bucket
                                ORDER BY us DESC, event_id DESC) AS rn
                     FROM ev)
                   WHERE rn = 1),
            span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
                     FROM ev GROUP BY user_id),
            grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
                     FROM span)
            SELECT g.user_id, g.bucket,
                   last_value(pb.v IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS value_ffill
            FROM grid g LEFT JOIN pb
              ON g.user_id = pb.user_id AND g.bucket = pb.bucket""",
        "q_ann_pq": _pq_oracle(),
        "q_ann_ivf_pq": _pq_oracle(n_cells=16),
        "q_hard_negatives": """
            WITH q0 AS (SELECT vec_id AS vid,
                               list_transform(embedding,
                                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                             + 0.5) AS BIGINT)) AS q
                        FROM embeddings),
            cent AS (SELECT vec_id AS ccid, embedding AS cvec
                     FROM embeddings WHERE vec_id < 16),
            cellasg AS (
              SELECT vec_id AS vid, ccid AS cell FROM (
                SELECT e.vec_id, c.ccid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.ccid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1),
            qq AS (SELECT q0.vid, q0.q, cellasg.cell
                   FROM q0 JOIN cellasg USING (vid)),
            anchors AS (SELECT vid AS anchor_id, q AS aq, cell AS a_cell
                        FROM qq ORDER BY vid LIMIT 8),
            scored AS (
              SELECT a.anchor_id, c.vid,
                     list_sum(list_transform(generate_series(1, 64),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dist2
              FROM qq c CROSS JOIN anchors a
              WHERE c.cell <> a.a_cell)
            SELECT anchor_id,
                   CAST(row_number() OVER (PARTITION BY anchor_id
                                           ORDER BY dist2, vid)
                        AS INT) AS rnk,
                   vid AS vec_id,
                   CAST(dist2 AS BIGINT) AS dist2
            FROM scored
            QUALIFY rnk <= 5""",
        "q_ann_recall_report": """
            WITH q0 AS (SELECT vec_id AS vid,
                               list_transform(embedding,
                                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                             + 0.5) AS BIGINT)) AS q
                        FROM embeddings),
            cent AS (SELECT vec_id AS ccid, embedding AS cvec
                     FROM embeddings WHERE vec_id < 16),
            cellasg AS (
              SELECT vec_id AS vid, ccid AS cell FROM (
                SELECT e.vec_id, c.ccid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.ccid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1),
            qq AS (SELECT q0.vid, q0.q, cellasg.cell
                   FROM q0 JOIN cellasg USING (vid)),
            anchors AS (SELECT vid AS query_id, q AS aq, cell AS a_cell
                        FROM qq ORDER BY vid LIMIT 4),
            scored AS (
              SELECT a.query_id, a.a_cell, c.vid, c.cell,
                     list_sum(list_transform(generate_series(1, 64),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dist2
              FROM qq c CROSS JOIN anchors a WHERE c.vid <> a.query_id),
            exact AS (SELECT query_id, vid FROM (
                        SELECT query_id, vid,
                               row_number() OVER (PARTITION BY query_id
                                                  ORDER BY dist2, vid) AS rn
                        FROM scored) WHERE rn <= 10),
            ivf AS (SELECT query_id, vid FROM (
                      SELECT query_id, vid,
                             row_number() OVER (PARTITION BY query_id
                                                ORDER BY dist2, vid) AS rn
                      FROM scored WHERE cell = a_cell) WHERE rn <= 10),
            hits AS (SELECT e.query_id, COUNT(*) AS n_hits
                     FROM exact e JOIN ivf i
                       ON e.query_id = i.query_id AND e.vid = i.vid
                     GROUP BY e.query_id),
            perq AS (SELECT query_id, COUNT(*) AS n_exact FROM exact
                     GROUP BY query_id)
            SELECT perq.query_id,
                   CAST(n_exact AS BIGINT) AS n_exact,
                   CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(COALESCE(n_hits, 0) * 1000000 // n_exact
                        AS BIGINT) AS recall_ppm
            FROM perq LEFT JOIN hits USING (query_id)""",
        "q_ann_multiprobe": """
            WITH q0 AS (SELECT vec_id AS vid,
                               list_transform(embedding,
                                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                             + 0.5) AS BIGINT)) AS q
                        FROM embeddings),
            cent AS (SELECT vec_id AS ccid, embedding AS cvec
                     FROM embeddings WHERE vec_id < 16),
            cellasg AS (
              SELECT vec_id AS vid, ccid AS cell FROM (
                SELECT e.vec_id, c.ccid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.ccid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1),
            qq AS (SELECT q0.vid, q0.q, cellasg.cell
                   FROM q0 JOIN cellasg USING (vid)),
            anchors AS (SELECT vid AS query_id, q AS aq
                        FROM qq ORDER BY vid LIMIT 4),
            probes AS (
              SELECT a.query_id, c.ccid AS p_cell,
                     row_number() OVER (
                         PARTITION BY a.query_id
                         ORDER BY list_cosine_similarity(
                                      e.embedding::DOUBLE[],
                                      c.cvec::DOUBLE[]) DESC,
                                  c.ccid) AS prnk
              FROM anchors a
              JOIN embeddings e ON e.vec_id = a.query_id
              CROSS JOIN cent c),
            nps AS (SELECT * FROM (VALUES (1), (2), (4)) AS t(nprobe)),
            scored AS (
              SELECT a.query_id, c.vid, c.cell,
                     list_sum(list_transform(generate_series(1, 64),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dist2
              FROM qq c CROSS JOIN anchors a WHERE c.vid <> a.query_id),
            exact AS (SELECT query_id, vid FROM (
                        SELECT query_id, vid,
                               row_number() OVER (PARTITION BY query_id
                                                  ORDER BY dist2, vid) AS rn
                        FROM scored) WHERE rn <= 10),
            ivf AS (SELECT nprobe, query_id, vid FROM (
                      SELECT n.nprobe, s.query_id, s.vid,
                             row_number() OVER (
                                 PARTITION BY n.nprobe, s.query_id
                                 ORDER BY s.dist2, s.vid) AS rn
                      FROM scored s
                      JOIN probes p ON s.query_id = p.query_id
                                   AND s.cell = p.p_cell
                      JOIN nps n ON p.prnk <= n.nprobe) WHERE rn <= 10),
            hits AS (SELECT i.nprobe, e.query_id, COUNT(*) AS n_hits
                     FROM exact e JOIN ivf i
                       ON e.query_id = i.query_id AND e.vid = i.vid
                     GROUP BY i.nprobe, e.query_id),
            perq AS (SELECT query_id, COUNT(*) AS n_exact FROM exact
                     GROUP BY query_id)
            SELECT CAST(n.nprobe AS INTEGER) AS nprobe,
                   p.query_id,
                   CAST(p.n_exact AS BIGINT) AS n_exact,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(COALESCE(h.n_hits, 0) * 1000000 // p.n_exact
                        AS BIGINT) AS recall_ppm
            FROM perq p CROSS JOIN nps n
            LEFT JOIN hits h ON h.nprobe = n.nprobe
                            AND h.query_id = p.query_id""",
        "q_entity_resolution": """
            WITH RECURSIVE names AS (
              SELECT p_name AS name, COUNT(*) AS n_rows,
                     length(p_name) AS len
              FROM part GROUP BY p_name),
            pairs AS (
              SELECT a.name AS na, b.name AS nb
              FROM names a JOIN names b
                ON (a.len < b.len OR (a.len = b.len AND a.name < b.name))
              WHERE levenshtein(a.name, b.name) <= 2),
            edges AS (SELECT na AS a, nb AS b FROM pairs
                      UNION SELECT nb AS a, na AS b FROM pairs),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            clusters AS (
              SELECT a AS name, least(a, MIN(b)) AS cluster
              FROM reach GROUP BY a),
            labeled AS (
              SELECT n.name, n.n_rows,
                     COALESCE(c.cluster, n.name) AS cluster
              FROM names n LEFT JOIN clusters c USING (name)),
            win AS (SELECT cluster, name AS canonical FROM (
                      SELECT cluster, name,
                             row_number() OVER (PARTITION BY cluster
                                 ORDER BY n_rows DESC, name) AS rn
                      FROM labeled) WHERE rn = 1)
            SELECT l.name, w.canonical, CAST(l.n_rows AS BIGINT) AS n_rows
            FROM labeled l JOIN win w USING (cluster)""",
        "q_textrank": _textrank_oracle(iters=2, k=20),
        "q_auc": """
            WITH g AS (
              SELECT n_chars AS score,
                     SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
                     SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nneg
              FROM documents GROUP BY 1),
            c AS (
              SELECT npos, nneg,
                     COALESCE(SUM(nneg) OVER (ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS cneg
              FROM g)
            SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
                   CAST(SUM(nneg) AS BIGINT) AS n_neg,
                   CAST(CASE WHEN SUM(npos) > 0 AND SUM(nneg) > 0 THEN
                        SUM(npos * (2 * cneg + nneg)) * 1000000
                          // (2 * SUM(npos) * SUM(nneg)) END
                        AS BIGINT) AS auc_ppm
            FROM c""",
        "q_cuped": f"""
            WITH per_u AS (
              SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
                     SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END) AS pre,
                     SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0
                         ELSE CAST(round(value * 100) AS BIGINT)
                         END) AS post
              FROM events GROUP BY 1, 2),
            gm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
                          SUM(pre) AS sx_, SUM(post) AS sy_,
                          SUM(pre * pre) AS sxx_,
                          SUM(pre * post) AS sxy_
                   FROM per_u),
            gd AS (SELECT n_all,
                          {det_double_sql('sx_')} AS sx,
                          {det_double_sql('sy_')} AS sy,
                          {det_double_sql('sxx_')} AS sxx,
                          {det_double_sql('sxy_')} AS sxy
                   FROM gm),
            gt AS (SELECT n_all, sx,
                          CASE WHEN (sxx - sx * sx / n_all) > 0
                               THEN (sxy - sx * sy / n_all)
                                    / (sxx - sx * sx / n_all)
                               ELSE 0.0 END AS theta
                   FROM gd),
            am AS (SELECT arm, COUNT(*) AS n_units,
                          SUM(pre) AS sxa_, SUM(post) AS sya_
                   FROM per_u GROUP BY arm),
            ad AS (SELECT arm, CAST(n_units AS BIGINT) AS n_units,
                          {det_double_sql('sxa_')} AS sxa,
                          {det_double_sql('sya_')} AS sya
                   FROM am)
            SELECT arm, n_units,
                   {floor_scaled_sql('sya / n_units', 6, 'mean_post_e6')},
                   {floor_scaled_sql(
                       'sya / n_units - theta * (sxa / n_units - sx / n_all)',
                       6, 'mean_adj_e6')}
            FROM ad, gt""",
        "q_pr_curve": """
            WITH m AS (SELECT MAX(n_chars) AS smax FROM documents),
            b AS (SELECT least(n_chars * 10 // (smax + 1), 9) AS bin,
                         (lang = 'en') AS y
                  FROM documents, m),
            g AS (SELECT bin, COUNT(*) AS n,
                         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS npos
                  FROM b GROUP BY bin),
            c AS (SELECT bin,
                         SUM(n) OVER (ORDER BY bin DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS n_above,
                         SUM(npos) OVER (ORDER BY bin DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS pos_above,
                         SUM(npos) OVER () AS tp
                  FROM g)
            SELECT CAST(bin AS INTEGER) AS threshold_bin,
                   CAST(n_above AS BIGINT) AS n_above,
                   CAST(pos_above AS BIGINT) AS pos_above,
                   CAST(CASE WHEN n_above > 0
                        THEN pos_above * 1000000 // n_above END
                        AS BIGINT) AS precision_ppm,
                   CAST(CASE WHEN tp > 0
                        THEN pos_above * 1000000 // tp END
                        AS BIGINT) AS recall_ppm
            FROM c""",
        "q_reliability": """
            WITH m AS (SELECT MAX(n_chars) AS smax FROM documents),
            b AS (SELECT least(n_chars * 10 // (smax + 1), 9) AS bin,
                         n_chars AS score,
                         (lang = 'en') AS y,
                         smax
                  FROM documents, m),
            g AS (SELECT bin, COUNT(*) AS n_rows,
                         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
                         SUM(score) AS ssum, MAX(smax) AS smax
                  FROM b GROUP BY bin)
            SELECT CAST(bin AS INTEGER) AS bin,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_pos * 1000000 // n_rows AS BIGINT)
                       AS pos_rate_ppm,
                   CAST(CASE WHEN smax > 0 THEN
                        (CAST(ssum AS HUGEINT) * 1000000)
                          // (CAST(n_rows AS HUGEINT) * smax)
                        ELSE 0 END AS BIGINT) AS mean_score_ppm
            FROM g""",
        "q_assoc_rules": """
            WITH items AS (SELECT DISTINCT l_orderkey AS o,
                                  l_partkey % 50 AS item
                           FROM lineitem),
            nb AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM items),
            freq AS (SELECT item, COUNT(*) AS n_item FROM items
                     GROUP BY item),
            p AS (SELECT a.item AS ante, b.item AS cons, COUNT(*) AS n_xy
                  FROM items a JOIN items b
                    ON a.o = b.o AND a.item <> b.item
                  GROUP BY 1, 2)
            SELECT ante, cons, CAST(n_xy AS BIGINT) AS n_xy,
                   CAST(n_xy * 1000000 // n_baskets AS BIGINT)
                       AS support_ppm,
                   CAST(n_xy * 1000000 // fx.n_item AS BIGINT)
                       AS confidence_ppm,
                   CAST((CAST(n_xy AS HUGEINT) * n_baskets * 1000000)
                        // (CAST(fx.n_item AS HUGEINT) * fy.n_item)
                        AS BIGINT) AS lift_e6
            FROM p
            JOIN freq fx ON fx.item = p.ante
            JOIN freq fy ON fy.item = p.cons, nb
            WHERE n_xy * 1000000 // n_baskets >= 5000""",
        "q_coreness": _coreness_oracle(rounds=3),
        "q_minhash_calibration": f"""
            WITH {_SHINGLE_CTE},
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            h31 AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                         % 2147483647 AS h31
              FROM sh
            ),
            hx AS (
              SELECT doc_id, i,
                     MIN(({_MH_A}[i + 1] * h31 + {_MH_B}[i + 1]) % 2147483647)
                         AS sig
              FROM h31, range(32) t(i)
              GROUP BY doc_id, i
            ),
            bands AS (
              SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
                     md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
              FROM hx GROUP BY doc_id, CAST(i // 4 AS INTEGER)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b USING (band, bucket)
              WHERE a.doc_id < b.doc_id
            ),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ),
            m AS (
              SELECT c.doc_a, c.doc_b,
                     SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS mm
              FROM cand c
              JOIN hx sa ON sa.doc_id = c.doc_a
              JOIN hx sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
              GROUP BY 1, 2
            ),
            pr AS (
              SELECT mm * 1000000 // 32 AS est_ppm,
                     COALESCE(i.inter, 0) * 1000000
                       // (sa.sz + sb.sz - COALESCE(i.inter, 0)) AS exact_ppm
              FROM m
              LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
              JOIN sz sa ON sa.doc_id = m.doc_a
              JOIN sz sb ON sb.doc_id = m.doc_b
            )
            SELECT CAST(exact_ppm // 100000 AS INTEGER) AS jac_decile,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(abs(est_ppm - exact_ppm)) AS BIGINT)
                       AS sum_abs_err_ppm,
                   CAST(SUM(abs(est_ppm - exact_ppm)) // COUNT(*) AS BIGINT)
                       AS mean_abs_err_ppm
            FROM pr GROUP BY 1""",
        "q_skew_report": """
            WITH c AS (SELECT CAST(l_orderkey AS VARCHAR) AS key,
                              COUNT(*) AS n_rows
                       FROM lineitem GROUP BY 1),
            t AS (SELECT SUM(n_rows) AS total FROM c)
            SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
                   CAST(row_number() OVER (ORDER BY n_rows DESC, key)
                        AS INTEGER) AS rnk
            FROM c, t
            QUALIFY rnk <= 10""",
        "q_ivf_cells": """
            WITH cent AS (SELECT vec_id AS ccid, embedding AS cvec
                          FROM embeddings WHERE vec_id < 16),
            cellasg AS (
              SELECT vec_id AS vid, ccid AS cell FROM (
                SELECT e.vec_id, c.ccid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.ccid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1),
            cells AS (SELECT CAST(x AS BIGINT) AS cell
                      FROM generate_series(0, 15) t(x)),
            cnt AS (SELECT cell, COUNT(*) AS n_vecs FROM cellasg
                    GROUP BY cell),
            tot AS (SELECT SUM(n_vecs) AS total FROM cnt)
            SELECT cells.cell,
                   CAST(COALESCE(n_vecs, 0) AS BIGINT) AS n_vecs,
                   CAST(COALESCE(n_vecs, 0) * 1000000 // total
                        AS BIGINT) AS share_ppm
            FROM cells LEFT JOIN cnt USING (cell), tot""",
        "q_audio_segments": """
            WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
                              octet_length(CAST(text AS BLOB)) AS nb
                       FROM documents),
            s AS (SELECT doc_id,
                         list_transform(range(0, nb // 2),
                             i -> CAST(('0x' || substr(h, 4*i + 3, 2)
                                             || substr(h, 4*i + 1, 2))
                                       AS BIGINT)) AS samples
                  FROM p),
            fr AS (SELECT doc_id, (i // 32) AS frame_id, v
                   FROM (SELECT doc_id,
                                generate_subscripts(samples, 1) - 1 AS i,
                                unnest(samples) AS v
                         FROM s)),
            r AS (SELECT doc_id, frame_id,
                         CAST(floor(sqrt(CAST(SUM(v * v) AS DOUBLE)
                                         / COUNT(*)) * 1000 + 0.5)
                              AS BIGINT) AS rms_e3
                  FROM fr GROUP BY doc_id, frame_id),
            act AS (SELECT doc_id, frame_id, rms_e3,
                           frame_id - row_number() OVER (
                               PARTITION BY doc_id ORDER BY frame_id)
                             AS grp
                    FROM r WHERE rms_e3 >= 25500000),
            seg AS (SELECT doc_id, grp,
                           MIN(frame_id) AS start_frame,
                           MAX(frame_id) AS end_frame,
                           COUNT(*) AS n_frames,
                           MAX(rms_e3) AS max_rms_e3
                    FROM act GROUP BY doc_id, grp)
            SELECT doc_id,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY start_frame) AS INTEGER) AS seg_id,
                   CAST(start_frame AS INTEGER) AS start_frame,
                   CAST(end_frame AS INTEGER) AS end_frame,
                   CAST(n_frames AS BIGINT) AS n_frames,
                   CAST(max_rms_e3 AS BIGINT) AS max_rms_e3
            FROM seg""",
        "q_kmeans": """
            WITH q AS (SELECT vec_id AS vid,
                              list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                            + 0.5) AS BIGINT)) AS q
                       FROM embeddings),
            hashed AS (SELECT vid, q,
                              CAST(('0x' || substr(md5('km' ||
                                   CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT)
                                AS h
                       FROM q),
            seeds AS (SELECT cid, q AS c FROM (
                        SELECT q, CAST(row_number() OVER (ORDER BY h, vid)
                                       AS INT) - 1 AS cid
                        FROM hashed)
                      WHERE cid < 4),
            a1 AS (SELECT vid, q.q AS q, s.cid,
                          list_sum(list_transform(
                              generate_series(1, len(q.q)),
                              i -> (q.q[i] - s.c[i]) * (q.q[i] - s.c[i])))
                            AS d
                   FROM q CROSS JOIN seeds s),
            b1 AS (SELECT vid, q, cid FROM a1
                   QUALIFY row_number() OVER (
                       PARTITION BY vid ORDER BY d, cid) = 1),
            s1 AS (SELECT cid, pos, SUM(x) AS s, COUNT(*) AS n
                   FROM (SELECT cid,
                                CAST(generate_subscripts(q, 1) AS INT) AS pos,
                                unnest(q) AS x
                         FROM b1)
                   GROUP BY cid, pos),
            c1 AS (SELECT cid, list(s // n ORDER BY pos) AS c
                   FROM s1 GROUP BY cid),
            a2 AS (SELECT vid, q.q AS q, c1.cid,
                          list_sum(list_transform(
                              generate_series(1, len(q.q)),
                              i -> (q.q[i] - c1.c[i]) * (q.q[i] - c1.c[i])))
                            AS d
                   FROM q CROSS JOIN c1)
            SELECT vid AS vec_id, cid FROM a2
            QUALIFY row_number() OVER (PARTITION BY vid ORDER BY d, cid) = 1""",
        "q_funnel": """
            WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
                        FROM events),
            signup AS (SELECT user_id, MIN(us) AS signup_us FROM ev
                       WHERE event_type = 'signup' GROUP BY user_id),
            click AS (SELECT e.user_id, MIN(us) AS click_us
                      FROM ev e JOIN signup s USING (user_id)
                      WHERE event_type = 'click' AND us >= signup_us
                      GROUP BY e.user_id),
            purchase AS (SELECT e.user_id, MIN(us) AS purchase_us
                         FROM ev e JOIN click c USING (user_id)
                         WHERE event_type = 'purchase' AND us >= click_us
                         GROUP BY e.user_id)
            SELECT 1 AS step, 'signup' AS step_name,
                   COUNT(*) AS n_users FROM signup
            UNION ALL
            SELECT 2, 'click_after_signup', COUNT(*) FROM click
            UNION ALL
            SELECT 3, 'purchase_after_click', COUNT(*) FROM purchase""",
        "q_cohort_retention": """
            WITH wk AS (SELECT DISTINCT user_id,
                               (epoch_us(ts) // 86400000000) // 7 AS week
                        FROM events),
            first AS (SELECT user_id, MIN(week) AS cohort_week FROM wk
                      GROUP BY user_id)
            SELECT cohort_week,
                   CAST(week - cohort_week AS INT) AS week_offset,
                   COUNT(*) AS n_users
            FROM wk JOIN first USING (user_id)
            GROUP BY cohort_week, week_offset""",
        "q_winnow_fingerprint": f"""
            WITH {_WINNOW_CTE}
            SELECT doc_id, fp FROM wfp""",
        "q_winnow_pairs": f"""
            WITH {_WINNOW_CTE}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS shared_fps
            FROM wfp a JOIN wfp b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 3""",
        "q_global_rank": """
            SELECT o_orderkey, o_totalprice,
                   row_number() OVER (ORDER BY o_orderkey) AS rn
            FROM orders""",
        "q_embed_centroid": """
            SELECT label, pos, CAST(SUM(x_e6) AS BIGINT) AS sum_e6,
                   COUNT(*) AS n
            FROM (SELECT label,
                         CAST(generate_subscripts(embedding, 1) - 1 AS INT)
                           AS pos,
                         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6
                                    + 0.5) AS BIGINT) AS x_e6
                  FROM embeddings)
            GROUP BY label, pos""",
        "q_grouping_sets": f"""
            SELECT l_returnflag, l_linestatus,
                   {_dsum("l_quantity")} AS sum_qty, COUNT(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
        "q_lag_lead": """
            SELECT user_id, event_id,
                   epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
                   epoch_us(lead(ts) OVER w) - epoch_us(ts) AS next_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "q_ntile": f"""
            SELECT quartile, COUNT(*) AS n, {_dsum("c_acctbal")} AS sum_bal
            FROM (SELECT c_acctbal,
                         CAST(ntile(4) OVER (
                             ORDER BY c_acctbal DESC, c_custkey) AS INT)
                           AS quartile
                  FROM customer)
            GROUP BY quartile""",
        "q_histogram": """
            SELECT CAST(floor(o_totalprice / 30000.0) AS INT) AS bucket,
                   COUNT(*) AS n
            FROM orders GROUP BY bucket""",
        "q_approx_distinct": """
            WITH mins AS (
              SELECT DISTINCT CAST(('0x' || substr(md5(
                       CAST(l_orderkey AS VARCHAR) || '-'
                       || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM lineitem ORDER BY h LIMIT 256)
            SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE CAST(255 AS DOUBLE) * pow(2, 60)
                             / CAST(MAX(h) AS DOUBLE)
                   END AS est_distinct
            FROM mins""",
        "q_sessionize": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                  > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, event_id, ts,
                     CAST(SUM(new_session) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   epoch_us(MIN(ts)) AS session_start_us,
                   epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
            FROM sess GROUP BY user_id, session_id""",
        "q_vector_stats": """
            SELECT vec_id,
                   CAST(len(embedding) AS INTEGER) AS dim,
                   CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS vmax,
                   CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vmin,
                   CAST(embedding[1] AS DOUBLE) AS first_val,
                   CAST(len(embedding[1:8]) AS INTEGER) AS head_len
            FROM embeddings""",
        "q_group_normalize": f"""
            WITH r AS (SELECT c_mktsegment, c_custkey,
                              CAST(round(c_acctbal * 100) AS BIGINT) AS cb
                       FROM customer),
            g AS (SELECT c_mktsegment,
                         CAST(COUNT(*) AS DOUBLE) AS n,
                         SUM(cb) AS s_raw,
                         SUM(cb * cb) AS ss_raw
                  FROM r GROUP BY c_mktsegment),
            h AS (SELECT c_mktsegment, n,
                         {det_double_sql("s_raw")} AS s,
                         {det_double_sql("ss_raw")} AS ss
                  FROM g),
            sd AS (SELECT c_mktsegment, n, s,
                          CASE WHEN n > 1
                               THEN sqrt((ss - s * s / n) / (n - 1))
                               ELSE 0.0 END AS sd
                   FROM h)
            SELECT r.c_mktsegment, r.c_custkey,
                   CASE WHEN sd.sd > 0
                        THEN CAST(floor((r.cb - sd.s / sd.n) / sd.sd
                                        * 1000000.0) AS BIGINT)
                        ELSE 0 END AS z_micro
            FROM r JOIN sd USING (c_mktsegment)""",
        "q_quality_report": """
            SELECT COUNT(*) AS n_rows,
                   COUNT(CASE WHEN NOT COALESCE(l_shipdate IS NOT NULL, FALSE)
                              THEN 1 END) AS viol_shipdate_notnull,
                   COUNT(CASE WHEN NOT COALESCE(l_quantity > 0, FALSE)
                              THEN 1 END) AS viol_qty_positive,
                   COUNT(CASE WHEN NOT COALESCE(l_extendedprice >= 0, FALSE)
                              THEN 1 END) AS viol_price_nonneg,
                   COUNT(CASE WHEN NOT COALESCE(l_discount BETWEEN 0.0 AND 0.5,
                                                FALSE) THEN 1 END)
                       AS viol_discount_range,
                   COUNT(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'),
                                                FALSE) THEN 1 END)
                       AS viol_flag_domain
            FROM lineitem""",
        "q_multimodal_features": """
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS byte_len,
                   CAST(length(text) - length(replace(text, 'a', '')) AS INTEGER)
                       AS n_a_bytes
            FROM documents""",
        "q_multimodal_ppm": """
            SELECT doc_id,
                   CAST(96 AS INTEGER) AS byte_len,
                   CAST(96 - length(replace(rpad(text, 96, 'x'), 'a', ''))
                        AS INTEGER) AS n_a_bytes
            FROM documents""",
        "q_multimodal_frames": """
            SELECT doc_id,
                   CAST(fi AS INTEGER) AS frame_idx,
                   substr(text, CAST(fi * 64 + 1 AS INTEGER), 64) AS frame_txt
            FROM (SELECT doc_id, text,
                         unnest(range(0,
                             CAST(ceil(length(text) / 64.0) AS BIGINT),
                             2)) AS fi
                  FROM documents)""",
        "q_multimodal_resize": """
            SELECT doc_id,
                   substr(repeat(text,
                          CAST(ceil(256.0 / greatest(length(text), 1))
                               AS INTEGER)),
                          1, 256) AS resized_txt,
                   CASE WHEN length(text) = 0 THEN 0 ELSE 256 END AS n_bytes
            FROM documents""",
        "q_rank_dense": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                   CAST(rank() OVER w AS INTEGER) AS qty_rank,
                   CAST(dense_rank() OVER w AS INTEGER) AS qty_dense_rank
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag
                         ORDER BY l_quantity DESC)""",
        "q_cross_join": """
            SELECT r_regionkey AS grid_regionkey, r_name AS region_name,
                   n_nationkey AS grid_nationkey, n_name AS nation_name
            FROM region CROSS JOIN nation""",
        "q_ratio_to_report": """
            SELECT c_custkey, c_mktsegment,
                   CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents,
                   CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                       * 1000000
                   // SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                          AS BIGINT))
                      OVER (PARTITION BY c_mktsegment) AS BIGINT) AS share_ppm
            FROM customer WHERE c_acctbal > 0""",
        "q_yoy_growth": """
            WITH yearly AS (
              SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
                         AS year,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS rev_cents
              FROM orders GROUP BY 1)
            SELECT year, rev_cents,
                   rev_cents - lag(rev_cents) OVER (ORDER BY year)
                       AS yoy_delta_cents
            FROM yearly""",
        "q_keyset_pagination": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE l_orderkey > 1000
               OR (l_orderkey = 1000 AND l_linenumber > 2)
            ORDER BY l_orderkey, l_linenumber
            LIMIT 100""",
        "q_minmax_by": """
            SELECT o_orderpriority,
                   max_by(o_orderkey, score) AS max_orderkey,
                   min_by(o_orderkey, score) AS min_orderkey,
                   MAX(o_totalprice) AS max_total,
                   MIN(o_totalprice) AS min_total
            FROM (SELECT *,
                         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT) * 10000000 + o_orderkey AS score
                  FROM orders)
            GROUP BY o_orderpriority""",
        "q_window_firstlast": """
            SELECT user_id, event_id,
                   first_value(event_id) OVER w AS first_event,
                   last_value(event_id) OVER w AS last_event,
                   nth_value(event_id, 2) OVER w AS second_event
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)""",
        "q_mode": """
            SELECT c_mktsegment, o_orderpriority AS modal_priority, n
            FROM (
              SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
                     row_number() OVER (
                         PARTITION BY c_mktsegment
                         ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment, o_orderpriority)
            WHERE rn = 1""",
        "q_returned_revenue": f"""
            SELECT c_custkey, c_name, n_name,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND CAST(o_orderdate AS DATE)
                  BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey
            LIMIT 20""",
        "q_time_weighted": """
            WITH segs AS (
              SELECT user_id, value,
                     (epoch_us(lead(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       - epoch_us(ts)) // 1000 AS gap_ms
              FROM events)
            SELECT user_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(gap_ms AS DECIMAL(18,0))) AS DOUBLE)
                       AS weighted_sum,
                   CAST(SUM(gap_ms) AS BIGINT) AS total_ms,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(gap_ms AS DECIMAL(18,0))) AS DOUBLE)
                     / CAST(SUM(gap_ms) AS DOUBLE) AS twa_value
            FROM segs WHERE gap_ms IS NOT NULL
            GROUP BY user_id
            HAVING SUM(gap_ms) > 0""",
        "q_snapshot_diff": f"""
            WITH a AS (
              SELECT l_orderkey,
                     {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS rev_old
              FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1997-01-01'
              GROUP BY 1),
            b AS (
              SELECT l_orderkey,
                     {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS rev_new
              FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1998-01-01'
              GROUP BY 1)
            SELECT l_orderkey, rev_old, rev_new,
                   CASE WHEN rev_old IS NULL THEN 'added'
                        WHEN rev_new IS NULL THEN 'removed'
                        WHEN rev_old <> rev_new THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM a FULL JOIN b USING (l_orderkey)""",
        "q_rolling_range": """
            SELECT o_custkey, o_orderkey, day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                       PARTITION BY o_custkey ORDER BY day
                       RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS rolling_30d
            FROM (SELECT *,
                         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                              AS INTEGER) AS day
                  FROM orders)""",
        "q_small_qty_revenue": f"""
            WITH agg AS (
              SELECT l_partkey AS pk,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100
                          AS BIGINT) AS sq_c,
                     COUNT(*) AS cnt
              FROM lineitem GROUP BY 1)
            SELECT {_dsum("l_extendedprice", 2)} / 7.0 AS avg_yearly,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN agg  ON l_partkey = pk
            WHERE p_brand LIKE 'Brand#1%'
              AND CAST(l_quantity AS BIGINT) * 500 * cnt < sq_c""",
        "q_partition_prune": f"""
            SELECT o_orderstatus, COUNT(*) AS n,
                   {_dsum("o_totalprice", 2)} AS sum_total
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus""",
        "q_countmin": _countmin_oracle(),
        "q_regional_revenue": f"""
            SELECT n_name,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND CAST(o_orderdate AS DATE)
                  BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name""",
        "q_volume_shipping": f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(YEAR FROM l_shipdate) AS l_year,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE CAST(l_shipdate AS DATE)
                  BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3""",
        "q_market_share": f"""
            SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
                   {_dsum("CASE WHEN n2.n_name = 'NATION_5' "
                          "THEN l_extendedprice * (1 - l_discount) "
                          "ELSE 0.0 END", 4)} AS nation_volume,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS total_volume,
                   {_dsum("CASE WHEN n2.n_name = 'NATION_5' "
                          "THEN l_extendedprice * (1 - l_discount) "
                          "ELSE 0.0 END", 4)}
                     / {_dsum("l_extendedprice * (1 - l_discount)", 4)}
                     AS mkt_share
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
            GROUP BY 1
            ORDER BY 1""",
        "q_product_profit": f"""
            SELECT n_name AS nation, EXTRACT(YEAR FROM l_shipdate) AS o_year,
                   {_dsum("l_extendedprice * (1 - l_discount)"
                          " - p_retailprice * 0.5 * l_quantity", 4)} AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
            ORDER BY nation, o_year DESC""",
        "q_shipmode_priority": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                            ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority NOT IN
                            ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE CAST(l_shipdate AS DATE)
                  BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
            GROUP BY l_linestatus
            ORDER BY l_linestatus""",
        "q_top_supplier": f"""
            WITH revenue AS (
              SELECT l_suppkey,
                     {_dsum("l_extendedprice * (1 - l_discount)", 4)}
                         AS total_revenue
              FROM lineitem
              WHERE CAST(l_shipdate AS DATE)
                    BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
            ORDER BY s_suppkey""",
        "q_large_orders": """
            WITH big AS (
              SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                         AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   sum_qty
            FROM big
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100""",
        "q_disjunctive_pred": f"""
            SELECT {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20 AND 50)""",
        "q_waiting_suppliers": """
            SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
            FROM lineitem l1
            JOIN supplier ON s_suppkey = l1.l_suppkey
            JOIN orders   ON o_orderkey = l1.l_orderkey
            WHERE o_orderstatus = 'F'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate > l1.l_shipdate)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20""",
        "q_idle_customers": f"""
            WITH pos AS (
              SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS tot_cents,
                     COUNT(*) AS n_pos
              FROM customer WHERE c_acctbal > 0)
            SELECT c_mktsegment, COUNT(*) AS numcust,
                   {_dsum("c_acctbal", 2)} AS totacctbal
            FROM customer, pos
            WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * n_pos > tot_cents
              AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment""",
        "q_min_cost_supplier": """
            SELECT n_name, s_name, s_acctbal
            FROM supplier
            JOIN (SELECT s_nationkey AS mk, MIN(s_acctbal) AS min_bal
                  FROM supplier GROUP BY s_nationkey) m
              ON s_nationkey = mk AND s_acctbal = min_bal
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY n_name, s_name""",
        "q_decontaminate": """
            WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                       FROM documents),
            sh AS (
              SELECT doc_id, source,
                     unnest(list_distinct(list_transform(
                       range(1, len(ws) - 3),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS s
              FROM w WHERE len(ws) >= 5),
            ev AS (SELECT DISTINCT s FROM sh
                   WHERE source IN ('src0', 'src1')),
            bad AS (SELECT DISTINCT doc_id FROM sh
                    WHERE source NOT IN ('src0', 'src1')
                      AND s IN (SELECT s FROM ev))
            SELECT doc_id FROM documents
            WHERE source NOT IN ('src0', 'src1')
              AND doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id""",
        "q_quantile_filter": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY lang
                         ORDER BY n_chars DESC, doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS cnt
              FROM documents)
            WHERE rn * 2 <= cnt""",
        "q_repetition_ratio": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            g AS (
              SELECT doc_id,
                     GREATEST(len(ws) - 1, 0) AS total_ngrams,
                     CASE WHEN len(ws) >= 2 THEN len(list_distinct(
                            list_transform(range(1, len(ws)),
                              i -> ws[i] || ' ' || ws[i+1])))
                          ELSE 0 END AS distinct_ngrams
              FROM w)
            SELECT doc_id,
                   CAST(total_ngrams AS BIGINT) AS total_ngrams,
                   CAST(distinct_ngrams AS BIGINT) AS distinct_ngrams,
                   CAST(CASE WHEN total_ngrams > 0
                             THEN ((total_ngrams - distinct_ngrams)
                                   * 1000000) // total_ngrams
                             ELSE 0 END AS BIGINT) AS dup_ppm
            FROM g""",
        "q_pii_scrub": """
            SELECT event_id,
                   regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed
            FROM events""",
        "q_heavy_hitters": """
            SELECT token, CAST(COUNT(*) AS BIGINT) AS weight
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token""",
        "q_mix_epochs": """
            SELECT doc_id, lang, CAST(epoch AS INTEGER) AS epoch FROM (
              SELECT doc_id, lang,
                     unnest(range(1, CASE WHEN lang = 'en' THEN 3
                                          WHEN lang = 'zh' THEN 1
                                          ELSE 2 END)) AS epoch
              FROM documents)""",
        "q_json_roundtrip": f"""
            SELECT o_orderstatus, COUNT(*) AS n,
                   {_dsum("o_totalprice", 2)} AS sum_total,
                   MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_date
            FROM orders GROUP BY o_orderstatus""",
        "q_orc_roundtrip": f"""
            SELECT c_mktsegment, COUNT(*) AS n,
                   {_dsum("c_acctbal", 2)} AS sum_bal
            FROM customer WHERE c_acctbal > 0
            GROUP BY c_mktsegment""",
        "q_percent_rank": """
            SELECT c_mktsegment, c_custkey,
                   percent_rank() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal, c_custkey) AS pct_rank,
                   cume_dist() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal, c_custkey) AS cume
            FROM customer""",
        "q_grid_quantiles": _grid_quantiles_oracle(),
        "q_bloom_prefilter": f"""
            SELECT l_linestatus, COUNT(*) AS n,
                   {_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_linestatus
            ORDER BY l_linestatus""",
        "q_pagerank": _pagerank_oracle(2),
        "q_personalized_pagerank": _ppr_oracle(2),
        "q_date_arith": """
            SELECT o_orderkey,
                   CAST(datediff('day', CAST(o_orderdate AS DATE),
                                 DATE '2002-01-01') AS INTEGER) AS age_days,
                   CAST(o_orderdate AS DATE) + 30 AS due_date,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH
                        AS DATE) AS plus_quarter,
                   CAST((2002 - EXTRACT(YEAR FROM o_orderdate)) * 12
                        + (1 - EXTRACT(MONTH FROM o_orderdate))
                        AS INTEGER) AS age_months,
                   last_day(CAST(o_orderdate AS DATE)) AS month_end,
                   CAST(date_trunc('quarter', o_orderdate) AS DATE)
                       AS quarter_start
            FROM orders""",
        "q_string_agg": """
            SELECT o_orderpriority,
                   array_to_string(list_sort(list_distinct(
                       list(o_orderstatus))), ',') AS statuses,
                   COUNT(*) AS n
            FROM orders GROUP BY o_orderpriority""",
        "q_unpivot": """
            SELECT p_partkey, 'p_size' AS measure,
                   CAST(p_size AS DOUBLE) AS value FROM part
            UNION ALL
            SELECT p_partkey, 'p_retailprice' AS measure,
                   p_retailprice AS value FROM part""",
        "q_map_funcs": """
            WITH per AS (
              SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
              FROM orders GROUP BY 1, 2)
            SELECT o_orderpriority,
                   string_agg(o_orderstatus, ','
                       ORDER BY o_orderstatus) AS statuses,
                   string_agg(CAST(n AS VARCHAR), ','
                       ORDER BY o_orderstatus) AS counts,
                   MAX(CASE WHEN o_orderstatus = 'O' THEN n END)
                       AS open_count
            FROM per GROUP BY o_orderpriority""",
        "q_rollup": f"""
            SELECT l_returnflag, l_linestatus,
                   {_dsum("l_quantity")} AS sum_qty,
                   COUNT(*) AS n
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
        "q_higher_order": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_filter(string_split(text, ' '),
                       w -> length(w) > 4)) AS long_words,
                   CAST(coalesce(list_sum(list_transform(
                       string_split(text, ' '),
                       w -> length(w))), 0) AS BIGINT) AS total_len,
                   len(list_filter(string_split(text, ' '),
                       w -> regexp_matches(w, '[0-9]'))) > 0 AS has_digit,
                   len(list_filter(string_split(text, ' '),
                       w -> length(w) > 12)) = 0 AS all_short
            FROM documents""",
        "q_array_funcs": """
            WITH a AS (
              SELECT p_partkey,
                     [p_size, p_size + 1, p_size % 3, p_size] AS arr,
                     p_size FROM part)
            SELECT p_partkey,
                   array_to_string(list_sort(list_distinct(arr)), ',')
                       AS sizes_sorted,
                   array_to_string(arr[2:3], ',') AS mid_two,
                   list_contains(arr, 7) AS has_seven,
                   CAST(list_position(arr, p_size + 1) AS BIGINT)
                       AS succ_pos,
                   list_max(arr) AS size_max,
                   list_min(arr) AS size_min,
                   array_to_string(list_concat([p_size], [0]), ',')
                       AS flat
            FROM a""",
        "q_window_distinct": """
            WITH pairs AS (
              SELECT DISTINCT
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER)
                         AS epoch_day,
                     user_id
              FROM events)
            SELECT epoch_day,
                   MAX(u7) AS users_7d
            FROM (SELECT epoch_day,
                         COUNT(DISTINCT user_id) OVER (ORDER BY epoch_day
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                             AS u7
                  FROM pairs)
            GROUP BY epoch_day""",
        "q_date_spine": """
            WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
                              MAX(CAST(o_orderdate AS DATE)) AS hi
                       FROM orders),
                 spine AS (SELECT CAST(unnest(generate_series(
                               lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
                           FROM b),
                 daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                                  COUNT(*) AS n_orders
                           FROM orders GROUP BY 1)
            SELECT spine.day, COALESCE(daily.n_orders, 0) AS n_orders
            FROM spine LEFT JOIN daily ON spine.day = daily.day""",
        "q_bitwise_agg": """
            SELECT o_orderstatus,
                   bit_and(o_orderkey) AS key_and,
                   bit_or(o_orderkey) AS key_or,
                   bit_xor(o_orderkey) AS key_xor
            FROM orders GROUP BY o_orderstatus""",
        "q_dup_rate_by_source": """
            WITH g AS (SELECT text, MIN(doc_id) AS keeper
                       FROM documents GROUP BY text)
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_dups,
                   CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
                       * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
            FROM documents JOIN g USING (text)
            GROUP BY source""",
        "q_corpus_yield": """
            WITH d AS (
              SELECT lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                     doc_id = MIN(doc_id) OVER (PARTITION BY text)
                         AS keeper
              FROM documents)
            SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT)
                       AS kept_docs,
                   CAST(SUM(CASE WHEN keeper THEN toks ELSE 0 END)
                       AS BIGINT) AS kept_tokens
            FROM d GROUP BY lang""",
        "q_chunk_documents": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
                 s AS (SELECT doc_id, ws,
                              unnest(range(1,
                                  greatest(len(ws) - 8, 1) + 1, 24)) AS s
                       FROM w)
            SELECT doc_id,
                   (s - 1) // 24 AS chunk_id,
                   array_to_string(list_slice(ws, s, s + 31), ' ')
                       AS chunk_text,
                   CAST(len(list_slice(ws, s, s + 31)) AS BIGINT)
                       AS n_words
            FROM s""",
        "q_forecast_revenue": f"""
            SELECT {_dsum("l_extendedprice * l_discount", 4)} AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE)
                      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24""",
        "q_important_stock": f"""
            WITH base AS (
              SELECT l_partkey, l_extendedprice * l_quantity AS vol
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              WHERE s_nationkey = 3)
            SELECT l_partkey,
                   {_dsum("vol", 2)} AS stock_value
            FROM base
            GROUP BY l_partkey
            HAVING {_dsum("vol", 2)} >
                   (SELECT {_dsum("vol", 2)} FROM base) * 0.0005
            ORDER BY stock_value DESC, l_partkey""",
        "q_promo_revenue": f"""
            SELECT promo_revenue, total_revenue,
                   100.0 * promo_revenue / total_revenue AS promo_share
            FROM (
              SELECT
                {_dsum(
                    "CASE WHEN p_type = 'PROMO' "
                    "THEN l_extendedprice * (1 - l_discount) "
                    "ELSE 0.0 END", 4)} AS promo_revenue,
                {_dsum("l_extendedprice * (1 - l_discount)", 4)}
                    AS total_revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE CAST(l_shipdate AS DATE)
                        BETWEEN DATE '1996-09-01' AND DATE '1996-09-30')""",
        "q_parts_supplier": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
        "q_potential_promotion": """
            SELECT s_suppkey, s_name
            FROM supplier
            WHERE s_nationkey = 2
              AND s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'red%'
                GROUP BY l_suppkey, l_partkey
                HAVING SUM(CAST(l_quantity AS BIGINT)) > 50)
            ORDER BY s_suppkey""",
        "q_geo_point_parse": """
            WITH pts AS (
              SELECT c_mktsegment,
                     'POINT (' ||
                     CAST(CAST(c_custkey % 360 - 180 AS INTEGER) AS VARCHAR)
                     || ' ' ||
                     CAST(CAST(c_nationkey * 3 - 30 AS INTEGER) AS VARCHAR)
                     || ')' AS store_location
              FROM customer),
            parsed AS (
              SELECT c_mktsegment,
                     CAST(regexp_extract(store_location,
                          'POINT \\((-?\\d+) (-?\\d+)\\)', 1) AS DOUBLE)
                         AS lon,
                     CAST(regexp_extract(store_location,
                          'POINT \\((-?\\d+) (-?\\d+)\\)', 2) AS DOUBLE)
                         AS lat
              FROM pts)
            SELECT c_mktsegment,
                   MIN(lon) AS min_lon, MAX(lon) AS max_lon,
                   MIN(lat) AS min_lat, MAX(lat) AS max_lat,
                   COUNT(*) AS n_points
            FROM parsed
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment""",
        "q_hll": _hll_oracle(),
        "q_hll_overlap": _hll_overlap_oracle(),
        "q_order_priority": """
            SELECT o_orderpriority,
                   COUNT(*) AS n_late_orders
            FROM orders o
            WHERE year(o_orderdate) = 1996
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > CAST(CAST(o.o_orderdate AS DATE)
                                          + 60 AS TIMESTAMP))
            GROUP BY o_orderpriority""",
        "q_customer_distribution": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON o_custkey = c_custkey
              GROUP BY c_custkey)
            GROUP BY c_count""",
        "q_theta_diff": _theta_diff_oracle(),
        "q_mst_boruvka": _mst_oracle(),
        "q_mst_distributed": _mst_oracle(),
        # q_compression_ratio PARTIAL oracle (round-9, retires the
        # perpetual err:no_oracle row): doc_id + exact utf-8 byte length
        # are bit-exact; the zlib outputs are folded into the Spark-side
        # `zlib_in_bounds` invariant, which the oracle asserts TRUE —
        # exact byte counts stay pytest-pinned (non-SQL-expressible).
        # DuckDB strlen() counts BYTES of the utf-8 string (octet
        # semantics), matching the operator's len(text.encode('utf-8')).
        "q_compression_ratio": """
            SELECT doc_id,
                   CAST(strlen(coalesce(text, '')) AS BIGINT) AS raw_len,
                   TRUE AS zlib_in_bounds
            FROM documents""",
        "q_pipe_syntax": """
            SELECT l_returnflag, l_linestatus,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_price
            FROM lineitem
            WHERE l_quantity >= 10
            GROUP BY l_returnflag, l_linestatus""",
        "q_multimodal_patches": """
            WITH px AS (
              SELECT doc_id, rpad(text, 96, 'x') AS buf,
                     unnest(range(0, 96)) AS pos
              FROM documents)
            SELECT doc_id,
                   CAST(pos // 12 AS INT) AS patch_idx,
                   CAST(SUM(ord(substr(buf, CAST(pos + 1 AS INT), 1)))
                        AS BIGINT) AS byte_sum
            FROM px GROUP BY doc_id, pos // 12""",
        "q_lm_score": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            occ AS (
              SELECT doc_id,
                     ws[CAST(i AS INT)] AS w1,
                     ws[CAST(i + 1 AS INT)] AS w2
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                    FROM toks)),
            big AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY w1, w2),
            uni AS (
              SELECT w1, COUNT(*) AS c1 FROM (
                SELECT unnest(ws) AS w1 FROM toks) GROUP BY w1),
            scored AS (
              SELECT o.doc_id, b.c12 * 1000000 // u.c1 AS ppm
              FROM occ o
              JOIN big b USING (w1, w2)
              JOIN uni u USING (w1))
            SELECT doc_id,
                   COUNT(*) AS n_bigrams,
                   CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_prob_ppm
            FROM scored GROUP BY doc_id""",
        "q_recursive_cte": """
            WITH RECURSIVE und AS (
              SELECT DISTINCT a, b FROM (
                SELECT o_custkey % 500 AS a, o_orderkey % 700 AS b
                FROM orders
                UNION ALL
                SELECT o_orderkey % 700, o_custkey % 500 FROM orders)
              WHERE a <> b
            ),
            reach(v, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION ALL
              SELECT DISTINCT und.b, r.d + 1
              FROM reach r JOIN und ON und.a = r.v
              WHERE r.d < 3
            )
            SELECT v, CAST(MIN(d) AS INT) AS hops FROM reach GROUP BY v""",
        "q_ohlc_bars": """
            WITH ev AS (
              SELECT CAST(ts AS DATE) AS day, event_type, ts, event_id,
                     value,
                     row_number() OVER (PARTITION BY CAST(ts AS DATE),
                                          event_type
                                        ORDER BY ts, event_id) AS rn_a,
                     row_number() OVER (PARTITION BY CAST(ts AS DATE),
                                          event_type
                                        ORDER BY ts DESC, event_id DESC)
                       AS rn_d
              FROM events)
            SELECT day, event_type,
                   COUNT(*) AS n_events,
                   MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                   MAX(value) AS high,
                   MIN(value) AS low,
                   MAX(CASE WHEN rn_d = 1 THEN value END) AS close
            FROM ev GROUP BY day, event_type""",
        "q_naive_bayes": """
            WITH tok AS (
              SELECT source AS cls, unnest(string_split(text, ' ')) AS word
              FROM documents),
            counts AS (
              SELECT cls, word, COUNT(*) AS cnt FROM tok GROUP BY cls, word),
            cls_tot AS (
              SELECT cls, CAST(SUM(cnt) AS BIGINT) AS cls_total
              FROM counts GROUP BY cls),
            vocab AS (
              SELECT COUNT(DISTINCT word) AS vocab_size FROM counts),
            docs_c AS (
              SELECT source AS cls, COUNT(*) AS n_docs
              FROM documents GROUP BY source),
            tot AS (SELECT COUNT(*) AS n_docs_total FROM documents),
            ranked AS (
              SELECT cls, word, cnt,
                     row_number() OVER (PARTITION BY cls
                                        ORDER BY cnt DESC, word) AS rnk
              FROM counts QUALIFY rnk <= 5)
            SELECT r.cls AS source,
                   CAST(r.rnk AS INT) AS rnk,
                   r.word,
                   CAST(r.cnt AS BIGINT) AS cnt,
                   CAST((r.cnt + 1) * 1000000
                        // (ct.cls_total + v.vocab_size) AS BIGINT)
                     AS likelihood_ppm,
                   CAST(d.n_docs * 1000000 // t.n_docs_total AS BIGINT)
                     AS prior_ppm
            FROM ranked r
            JOIN cls_tot ct USING (cls)
            JOIN docs_c d USING (cls)
            CROSS JOIN vocab v CROSS JOIN tot t""",
        "q_interval_merge": """
            WITH iv AS (
              SELECT user_id,
                     epoch_us(ts) // 1000000 AS start_s,
                     epoch_us(ts) // 1000000 + 1800 AS end_s
              FROM events),
            marked AS (
              SELECT user_id, start_s, end_s,
                     CASE WHEN MAX(end_s) OVER w_prev IS NULL
                            OR start_s > MAX(end_s) OVER w_prev
                          THEN 1 ELSE 0 END AS is_break
              FROM iv
              WINDOW w_prev AS (PARTITION BY user_id
                                ORDER BY start_s, end_s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)),
            isl AS (
              SELECT user_id, start_s, end_s,
                     SUM(is_break) OVER (
                       PARTITION BY user_id ORDER BY start_s, end_s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
              FROM marked)
            SELECT user_id,
                   CAST(island AS BIGINT) AS island,
                   CAST(MIN(start_s) AS BIGINT) AS merge_start,
                   CAST(MAX(end_s) AS BIGINT) AS merge_end,
                   COUNT(*) AS n_merged,
                   CAST(MAX(end_s) - MIN(start_s) AS BIGINT) AS covered_secs
            FROM isl GROUP BY user_id, island""",
        "q_stream_dedup": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST((value) AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM events GROUP BY event_type""",
        "q_interval_join": """
            WITH iv AS (
              SELECT user_id, event_id, event_type,
                     epoch_us(ts) // 1000000 AS s,
                     epoch_us(ts) // 1000000 + 1800 AS e
              FROM events)
            SELECT a.user_id,
                   a.event_id AS event_id_a,
                   b.event_id AS event_id_b,
                   CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT)
                     AS overlap_secs
            FROM (SELECT * FROM iv WHERE event_type = 'click') a
            JOIN (SELECT * FROM iv WHERE event_type = 'purchase') b
              ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e""",
        "q_label_propagation": """
            WITH e0 AS (
              SELECT DISTINCT o_custkey % 500 AS src, o_orderkey % 700 AS dst
              FROM orders WHERE (o_custkey % 500) <> (o_orderkey % 700)),
            sym AS (
              SELECT DISTINCT a, b FROM (
                SELECT src AS a, dst AS b FROM e0
                UNION ALL SELECT dst, src FROM e0)),
            l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
            v1 AS (
              SELECT s.b AS node, l.label, COUNT(*) AS cnt
              FROM sym s JOIN l0 l ON s.a = l.node
              GROUP BY s.b, l.label),
            l1 AS (
              SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY cnt DESC, label) AS rn
                FROM v1) WHERE rn = 1),
            v2 AS (
              SELECT s.b AS node, l.label, COUNT(*) AS cnt
              FROM sym s JOIN l1 l ON s.a = l.node
              GROUP BY s.b, l.label),
            l2 AS (
              SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY cnt DESC, label) AS rn
                FROM v2) WHERE rn = 1)
            SELECT node, CAST(label AS BIGINT) AS label FROM l2""",
        "q_sparse_cosine": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            tf AS (
              SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, word),
            nd AS (SELECT COUNT(*) AS n_docs FROM documents),
            dfreq AS (
              SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
            keep AS (
              SELECT word FROM dfreq CROSS JOIN nd
              WHERE df <= least(greatest(1,
                            CAST(floor(0.05 * n_docs) AS BIGINT)),
                            CAST(256 AS BIGINT))),
            kt AS (SELECT tf.* FROM tf JOIN keep USING (word)),
            norms AS (
              SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS norm2
              FROM kt GROUP BY doc_id),
            dots AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
              FROM kt a JOIN kt b USING (word)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b, dot,
                   CAST(dot * dot * 1000000
                        // (na.norm2 * nb.norm2) AS BIGINT) AS cos2_ppm
            FROM dots
            JOIN norms na ON dots.doc_a = na.doc_id
            JOIN norms nb ON dots.doc_b = nb.doc_id
            WHERE dot * dot * 1000000 // (na.norm2 * nb.norm2)
                  >= 250000""",
        "q_winsorize": """
            WITH li AS (
              SELECT l_returnflag,
                     CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS cents
              FROM lineitem),
            med AS (
              SELECT l_returnflag,
                     quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
              FROM li GROUP BY l_returnflag),
            dev AS (
              SELECT l.l_returnflag, l.cents, m.med,
                     abs(l.cents - m.med) AS adev
              FROM li l JOIN med m USING (l_returnflag)),
            mad AS (
              SELECT l_returnflag, MIN(med) AS med,
                     quantile_cont(adev, 0.5) AS mad
              FROM dev GROUP BY l_returnflag),
            bounded AS (
              SELECT l.l_returnflag, l.cents,
                     m.med - 3 * m.mad AS lo,
                     m.med + 3 * m.mad AS hi
              FROM li l JOIN mad m USING (l_returnflag))
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN cents < lo OR cents > hi
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
                   CAST(MIN(lo) * 2 AS BIGINT) AS lo_halfcents,
                   CAST(MIN(hi) * 2 AS BIGINT) AS hi_halfcents,
                   CAST(SUM(CAST(2 * greatest(least(CAST(cents AS DOUBLE),
                                                    hi), lo) AS BIGINT))
                        AS BIGINT) AS winsorized_sum_halfcents
            FROM bounded GROUP BY l_returnflag""",
        "q_concurrency": """
            WITH bounds AS (
              SELECT ts AS t, 1 AS delta FROM events
              UNION ALL
              SELECT ts + INTERVAL 5 MINUTE, -1 FROM events
            ),
            running AS (
              SELECT CAST(t AS DATE) AS day, delta,
                     SUM(delta) OVER (PARTITION BY CAST(t AS DATE)
                                      ORDER BY t, delta
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS load
              FROM bounds
            )
            SELECT day, CAST(MAX(load) AS BIGINT) AS peak_concurrency,
                   CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_started
            FROM running GROUP BY day""",
        "q_join_cardinality": _join_cardinality_oracle(),
        "q_poisson_anomaly": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1
            ),
            tot AS (
              SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_days
              FROM daily
            )
            , m AS (SELECT day, n,
                           CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)
                               AS mean
                    FROM daily, tot)
            SELECT day, n,
                   CAST(floor(mean * 10000.0) AS BIGINT) AS mean_rate_cmilli,
                   CAST(floor((n - mean) / sqrt(mean) * 10000.0) AS BIGINT)
                       AS z_cmilli,
                   abs((n - mean) / sqrt(mean)) > 3 AS is_anomaly
            FROM m""",
        "q_pareto_point": """
            WITH per AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_cents
              FROM orders GROUP BY o_custkey
            ),
            ranked AS (
              SELECT rev_cents,
                     row_number() OVER (ORDER BY -rev_cents, o_custkey) AS i
              FROM per
            ),
            cum AS (
              SELECT i, CAST(SUM(rev_cents) OVER (ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum
              FROM ranked
            ),
            tot AS (SELECT MAX(cum) AS total, MAX(i) AS n_cust FROM cum),
            hit AS (
              SELECT MIN(i) AS k, MAX(n_cust) AS n_cust, MAX(total) AS total
              FROM cum, tot WHERE 5 * cum >= 4 * total
            )
            SELECT CAST(k AS BIGINT) AS customers_for_80pct,
                   CAST(n_cust AS BIGINT) AS n_customers,
                   CAST(floor(CAST(k AS DOUBLE) / CAST(n_cust AS DOUBLE)
                              * 1000000.0) AS BIGINT)
                       AS customer_share_ppm,
                   CAST(total AS BIGINT) AS total_cents
            FROM hit""",
        "q_runs_test": """
            WITH monthly AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders GROUP BY 1
            ),
            med AS (
              SELECT quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
              FROM monthly
            ),
            signed AS (
              SELECT month, CAST(cents > med AS INT) AS s
              FROM monthly, med WHERE cents <> med
            ),
            lagged AS (
              SELECT s, lag(s) OVER (ORDER BY month) AS prev FROM signed
            ),
            runs AS (
              SELECT SUM(CAST(prev IS NULL OR s <> prev AS INT)) AS r,
                     SUM(s) AS n1, SUM(1 - s) AS n2
              FROM lagged
            )
            , m AS (SELECT r, n1, n2,
                           CAST(n1 AS DOUBLE) AS n1d,
                           CAST(n2 AS DOUBLE) AS n2d,
                           CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nd
                    FROM runs),
            mm AS (SELECT *, 2 * n1d * n2d / nd + 1 AS mu FROM m)
            SELECT CAST(r AS BIGINT) AS n_runs,
                   CAST(n1 AS BIGINT) AS n_above,
                   CAST(n2 AS BIGINT) AS n_below,
                   CAST(floor(mu * 1000000.0) AS BIGINT)
                       AS expected_runs_micro,
                   CAST(floor((r - mu)
                              / sqrt((mu - 1) * (mu - 2) / (nd - 1))
                              * 1000000.0) AS BIGINT) AS z_micro
            FROM mm""",
        "q_abtest_srm": """
            WITH counts AS (
              SELECT CASE WHEN b < 8000 THEN 'train'
                          WHEN b < 9000 THEN 'val'
                          ELSE 'test' END AS split,
                     COUNT(*) AS n
              FROM (SELECT CAST(('0x' || substr(md5('split' ||
                          CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 10000 AS b
                    FROM documents)
              GROUP BY 1
            ),
            tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM counts),
            e AS (SELECT split, n,
                         nn * CASE WHEN split = 'train' THEN 0.8
                                   WHEN split = 'val' THEN 0.1
                                   ELSE 0.1 END AS expd
                  FROM counts, tot)
            SELECT split, n,
                   CAST(floor(expd * 100.0) AS BIGINT) AS expected_centi,
                   CAST(floor((n - expd) * (n - expd) / expd * 1000000.0)
                        AS BIGINT) AS chi2_term_micro
            FROM e""",
        "q_source_similarity": """
            WITH vocab AS (
              SELECT DISTINCT source, w FROM (
                SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents)
              WHERE length(w) >= 1
            ),
            sizes AS (SELECT source, COUNT(*) AS nv FROM vocab GROUP BY 1),
            inter AS (
              SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
              FROM vocab a JOIN vocab b
                ON a.w = b.w AND a.source < b.source
              GROUP BY 1, 2
            )
            SELECT i.src_a, i.src_b, i.inter,
                   CAST(floor((i.inter / (sa.nv + sb.nv - i.inter))
                              * 1000000.0) AS BIGINT) AS vocab_jaccard_ppm
            FROM inter i
            JOIN sizes sa ON i.src_a = sa.source
            JOIN sizes sb ON i.src_b = sb.source""",
        "q_ks_test": """
            WITH li AS (
              SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS cents,
                     CAST(l_returnflag = 'R' AS BIGINT) AS is_r
              FROM lineitem WHERE l_returnflag IN ('R', 'A')
            ),
            per AS (
              SELECT cents, SUM(is_r) AS c1, SUM(1 - is_r) AS c2
              FROM li GROUP BY cents
            ),
            tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n1,
                           CAST(SUM(c2) AS DOUBLE) AS n2 FROM per),
            cum AS (
              SELECT cents,
                     SUM(c1) OVER (ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS f1,
                     SUM(c2) OVER (ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS f2
              FROM per
            ),
            best AS (
              SELECT cents, abs(f1 / n1 - f2 / n2) AS gap, n1, n2,
                     row_number() OVER (ORDER BY abs(f1 / n1 - f2 / n2) DESC,
                                        cents) AS r
              FROM cum, tot QUALIFY r = 1
            )
            SELECT CAST(n1 AS BIGINT) AS n_ret, CAST(n2 AS BIGINT) AS n_acc,
                   cents AS argmax_cents,
                   CAST(floor(gap * 1000000.0) AS BIGINT) AS ks_d_ppm
            FROM best""",
        "q_bfs_hops": """
            WITH e AS (
              SELECT DISTINCT a, b FROM (
                SELECT o_custkey % 500 AS a, o_orderkey % 700 AS b
                FROM orders
                UNION ALL
                SELECT o_orderkey % 700 AS a, o_custkey % 500 AS b
                FROM orders)
            ),
            d0 AS (SELECT CAST(0 AS BIGINT) AS v, 0 AS d),
            d1 AS (
              SELECT v, MIN(d) AS d FROM (
                SELECT v, d FROM d0
                UNION ALL
                SELECT e.b AS v, d0.d + 1 FROM d0 JOIN e ON e.a = d0.v
              ) GROUP BY v),
            d2 AS (
              SELECT v, MIN(d) AS d FROM (
                SELECT v, d FROM d1
                UNION ALL
                SELECT e.b AS v, d1.d + 1 FROM d1 JOIN e ON e.a = d1.v
              ) GROUP BY v),
            d3 AS (
              SELECT v, MIN(d) AS d FROM (
                SELECT v, d FROM d2
                UNION ALL
                SELECT e.b AS v, d2.d + 1 FROM d2 JOIN e ON e.a = d2.v
              ) GROUP BY v)
            SELECT v, CAST(d AS INTEGER) AS hops FROM d3""",
        "q_udtf_sentences": """
            WITH parts AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split_regex(text, '[.!?]'),
                                      p -> trim(p)),
                       p -> p <> '') AS ps
              FROM documents
            )
            SELECT doc_id,
                   CAST(generate_subscripts(ps, 1) - 1 AS INT) AS pos,
                   unnest(ps) AS sentence,
                   CAST(len(list_filter(string_split(unnest(ps), ' '),
                                        w -> w <> '')) AS INT) AS n_words
            FROM parts""",
        "q_lateral_topk": """
            SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
            FROM nation n,
            LATERAL (
              SELECT c_name, c_acctbal FROM customer
              WHERE c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey LIMIT 2
            ) c""",
        "q_holt_forecast": """
            WITH monthly AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
              FROM orders GROUP BY 1
            ),
            arr AS (
              SELECT list(CAST(cents AS DOUBLE) ORDER BY month) AS xs
              FROM monthly
            ),
            folded AS (
              -- [level, trend] array accumulator: DuckDB 1.0 list_reduce
              -- mis-evaluates struct accumulators with shared
              -- subexpressions across fields; the array form folds right.
              SELECT len(xs) AS n,
                     list_reduce(
                       list_prepend(
                         [xs[1], CAST(0.0 AS DOUBLE)],
                         list_transform(xs[2:],
                                        v -> [v, CAST(0.0 AS DOUBLE)])),
                       (acc, e) -> [
                         0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                         0.3 * (0.5 * e[1] + 0.5 * (acc[1] + acc[2])
                                - acc[1]) + 0.7 * acc[2]]
                     ) AS hw
              FROM arr
            )
            SELECT CAST(n AS INTEGER) AS n_months,
                   CAST(floor(hw[1] * 100.0) AS BIGINT) AS level_ccents,
                   CAST(floor(hw[2] * 100.0) AS BIGINT) AS trend_ccents,
                   CAST(floor((hw[1] + 1 * hw[2]) * 100.0) AS BIGINT)
                       AS f1_ccents,
                   CAST(floor((hw[1] + 2 * hw[2]) * 100.0) AS BIGINT)
                       AS f2_ccents,
                   CAST(floor((hw[1] + 3 * hw[2]) * 100.0) AS BIGINT)
                       AS f3_ccents
            FROM folded""",
        "q_grid_density": """
            WITH RECURSIVE pts AS (
              SELECT vec_id,
                     CAST(floor(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6
                                           + 0.5) AS BIGINT) / 50000.0)
                          AS BIGINT) AS gx,
                     CAST(floor(CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6
                                           + 0.5) AS BIGINT) / 50000.0)
                          AS BIGINT) AS gy
              FROM embeddings
            ),
            cells AS (SELECT gx, gy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
            dense AS (SELECT gx, gy, gx * 100000 + gy AS cell_id
                      FROM cells WHERE n >= 4),
            probe AS (
              SELECT d.cell_id AS id_a, d.gx + o.dx AS gx, d.gy + o.dy AS gy
              FROM dense d CROSS JOIN (VALUES (-1, -1), (-1, 0), (-1, 1),
                                              (0, -1), (0, 1),
                                              (1, -1), (1, 0), (1, 1))
                                       o(dx, dy)
            ),
            edges0 AS (
              SELECT p.id_a AS a, b.cell_id AS b
              FROM probe p JOIN dense b USING (gx, gy)
              WHERE p.id_a < b.cell_id
            ),
            edges AS (SELECT a, b FROM edges0
                      UNION SELECT b AS a, a AS b FROM edges0),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            cc AS (SELECT a AS cell_id, least(a, MIN(b)) AS component
                   FROM reach GROUP BY a),
            labeled AS (
              SELECT p.vec_id, d.cell_id,
                     COALESCE(c.component, d.cell_id) AS cluster_id
              FROM pts p
              JOIN dense d ON p.gx = d.gx AND p.gy = d.gy
              LEFT JOIN cc c ON d.cell_id = c.cell_id
            ),
            clusters AS (
              SELECT cluster_id, COUNT(*) AS n_points,
                     COUNT(DISTINCT cell_id) AS n_cells
              FROM labeled GROUP BY 1
            ),
            noise AS (
              SELECT CAST(-1 AS BIGINT) AS cluster_id,
                     COUNT(*) AS n_points, CAST(0 AS BIGINT) AS n_cells
              FROM pts p LEFT JOIN dense d ON p.gx = d.gx AND p.gy = d.gy
              WHERE d.cell_id IS NULL
            )
            SELECT * FROM clusters UNION ALL SELECT * FROM noise""",
        "q_linkage_score": _linkage_oracle(),
        "q_seasonal_decompose": """
            WITH monthly AS (
              SELECT date_trunc('month', o_orderdate) AS month,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
              FROM orders GROUP BY 1
            ),
            staged AS (
              SELECT month, cents,
                     row_number() OVER (ORDER BY month) AS rn,
                     COUNT(*) OVER () AS n_tot,
                     SUM(cents) OVER (ORDER BY month
                                      ROWS BETWEEN 6 PRECEDING
                                      AND 5 FOLLOWING) AS s12_raw
              FROM monthly
            ),
            trended AS (
              SELECT month, cents,
                     CASE WHEN rn >= 7 AND rn <= n_tot - 5
                          THEN CAST(s12_raw AS BIGINT) END AS s12
              FROM staged
            ),
            seasonal AS (
              SELECT month(month) AS moy,
                     CAST(SUM(12 * cents - s12) AS BIGINT) AS ds,
                     COUNT(*) AS nm
              FROM trended WHERE s12 IS NOT NULL GROUP BY 1
            )
            SELECT t.month, t.cents,
                   CAST(floor((CAST(t.s12 AS DOUBLE) / 12.0) * 100.0)
                        AS BIGINT) AS trend_ccents,
                   CAST(floor((CAST(s.ds AS DOUBLE) / (12.0 * s.nm)) * 100.0)
                        AS BIGINT) AS seasonal_idx_ccents
            FROM trended t LEFT JOIN seasonal s ON month(t.month) = s.moy""",
        "q_changepoint": """
            WITH monthly AS (
              SELECT date_trunc('month', o_orderdate) AS month,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
              FROM orders GROUP BY 1
            ),
            cum AS (
              SELECT month, cents,
                     row_number() OVER (ORDER BY month) AS k,
                     CAST(SUM(cents) OVER (ORDER BY month
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS BIGINT) AS s_k
              FROM monthly
            ),
            tot AS (SELECT MAX(k) AS n, MAX(s_k) AS s_n FROM cum),
            scored AS (
              SELECT month, k, s_k, n, s_n,
                     abs(n * s_k - k * s_n) AS stat
              FROM cum, tot WHERE k < n
            ),
            best AS (
              SELECT *, row_number() OVER (ORDER BY stat DESC, k) AS r
              FROM scored QUALIFY r = 1
            )
            SELECT month AS split_month, CAST(k AS BIGINT) AS k,
                   CAST(floor((CAST(s_k AS DOUBLE) / k) * 100.0) AS BIGINT)
                       AS mean_before_ccents,
                   CAST(floor((CAST(s_n - s_k AS DOUBLE) / (n - k)) * 100.0)
                        AS BIGINT) AS mean_after_ccents
            FROM best""",
        "q_session_paths": """
            WITH rn_ev AS (
              SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                     row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                        ORDER BY ts, event_id) AS rn
              FROM events
            ),
            paths AS (
              SELECT user_id, day,
                     string_agg(event_type, '>' ORDER BY rn) AS path
              FROM rn_ev WHERE rn <= 3 GROUP BY user_id, day
            ),
            counts AS (
              SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
            )
            SELECT path, n_sessions,
                   CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
                        AS INTEGER) AS rnk
            FROM counts QUALIFY rnk <= 10""",
        "q_bitmap_distinct": """
            SELECT c.c_mktsegment AS seg,
                   COUNT(DISTINCT o.o_custkey) AS n_distinct
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1""",
        "q_revenue_spread": """
            WITH li AS (
              SELECT l_orderkey, date_trunc('month', MIN(l_shipdate)) AS m1
              FROM lineitem GROUP BY 1
            ),
            j AS (
              SELECT o.o_orderkey,
                     CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                       AS cents,
                     least(date_trunc('month', o.o_orderdate), li.m1) AS m0,
                     greatest(date_trunc('month', o.o_orderdate), li.m1) AS hi
              FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
            ),
            sp AS (
              SELECT cents, m0,
                     date_diff('month', m0, hi) + 1 AS nm,
                     unnest(range(date_diff('month', m0, hi) + 1)) AS i
              FROM j
            ),
            monthly AS (
              SELECT CAST(m0 + to_months(CAST(i AS INT)) AS DATE) AS month,
                     CASE WHEN i = 0
                          THEN cents - (nm - 1)
                               * CAST(floor(cents / nm) AS BIGINT)
                          ELSE CAST(floor(cents / nm) AS BIGINT)
                     END AS alloc_cents
              FROM sp
            )
            SELECT month,
                   CAST(SUM(alloc_cents) AS BIGINT) AS recognized_cents,
                   COUNT(*) AS n_order_months
            FROM monthly GROUP BY month""",
        "q_bpe_apply": """
            WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
                          FROM documents),
            toks1 AS (SELECT w FROM toks WHERE length(w) >= 1),
            pairs AS (
              SELECT unnest(list_transform(range(1, length(w)),
                         i -> substr(w, i, 2))) AS pair
              FROM toks1 WHERE length(w) >= 2),
            pc AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair),
            m AS (SELECT pair,
                         row_number() OVER (ORDER BY cnt DESC, pair) AS rn
                  FROM pc),
            topw AS (
              SELECT w, COUNT(*) AS cnt,
                     row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
              FROM toks1 GROUP BY w QUALIFY rnk <= 50),
            enc AS (
              -- Each merge subquery is COALESCEd to a chr(1) no-op
              -- sentinel: on a degenerate corpus with < 3 distinct pairs
              -- the scalar subquery is NULL and replace(x, NULL, NULL)
              -- would NULL the whole column, while Spark just applies
              -- fewer merges. replace(x, chr(1), chr(1)) is a no-op.
              SELECT w, cnt,
                replace(
                  replace(
                    replace(
                      array_to_string(list_transform(
                        range(1, length(w) + 1),
                        i -> substr(w, i, 1)), '  '),
                      COALESCE((SELECT substr(pair,1,1) || '  '
                                       || substr(pair,2,1)
                                FROM m WHERE rn = 1), chr(1)),
                      COALESCE((SELECT pair FROM m WHERE rn = 1), chr(1))),
                    COALESCE((SELECT substr(pair,1,1) || '  '
                                     || substr(pair,2,1)
                              FROM m WHERE rn = 2), chr(1)),
                    COALESCE((SELECT pair FROM m WHERE rn = 2), chr(1))),
                  COALESCE((SELECT substr(pair,1,1) || '  '
                                   || substr(pair,2,1)
                            FROM m WHERE rn = 3), chr(1)),
                  COALESCE((SELECT pair FROM m WHERE rn = 3), chr(1)))
                  AS bpe
              FROM topw)
            SELECT w, cnt, bpe,
                   CAST((length(bpe) - length(replace(bpe, '  ', ''))) / 2
                        + 1 AS INTEGER) AS n_tokens
            FROM enc""",
        "q_mmr_rerank": """
            WITH comp AS (
              SELECT vec_id,
                     CAST(generate_subscripts(embedding, 1) - 1 AS INT)
                       AS pos,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6
                                + 0.5) AS BIGINT) AS xe
              FROM embeddings),
            q AS (SELECT pos, xe AS qe FROM comp WHERE vec_id = 0),
            rel AS (
              SELECT c.vec_id, CAST(SUM(c.xe * q.qe) AS BIGINT) AS rel
              FROM comp c JOIN q USING (pos)
              WHERE c.vec_id <> 0 GROUP BY c.vec_id),
            cand AS (
              SELECT vec_id, rel,
                     row_number() OVER (ORDER BY rel DESC, vec_id) AS rnk
              FROM rel QUALIFY rnk <= 8),
            sims AS (
              SELECT a.vec_id AS va, b.vec_id AS vb,
                     CAST(SUM(a.xe * b.xe) AS BIGINT) AS sim
              FROM comp a JOIN comp b USING (pos)
              WHERE a.vec_id IN (SELECT vec_id FROM cand)
                AND b.vec_id IN (SELECT vec_id FROM cand)
                AND a.vec_id <> b.vec_id
              GROUP BY a.vec_id, b.vec_id),
            s1 AS (SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
            sc2 AS (
              SELECT c.vec_id, c.rel - s.sim AS mmr
              FROM cand c JOIN sims s ON s.va = c.vec_id
                                     AND s.vb = (SELECT vec_id FROM s1)
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)),
            s2 AS (SELECT vec_id FROM sc2 ORDER BY mmr DESC, vec_id LIMIT 1),
            sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
            sc3 AS (
              SELECT c.vec_id, c.rel - MAX(s.sim) AS mmr
              FROM cand c JOIN sims s ON s.va = c.vec_id
                                     AND s.vb IN (SELECT vec_id FROM sel2)
              WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
              GROUP BY c.vec_id, c.rel),
            s3 AS (SELECT vec_id FROM sc3 ORDER BY mmr DESC, vec_id LIMIT 1)
            SELECT vec_id, CAST(1 AS INTEGER) AS step FROM s1
            UNION ALL SELECT vec_id, CAST(2 AS INTEGER) FROM s2
            UNION ALL SELECT vec_id, CAST(3 AS INTEGER) FROM s3""",
        "q_wilson_ctr": """
            WITH g AS (
              SELECT CAST(json_extract_string(props, '$.k') AS INTEGER)
                       AS k_bucket,
                     SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS successes,
                     COUNT(*) AS trials
              FROM events WHERE event_type IN ('view', 'purchase')
              GROUP BY 1
            ),
            r AS (
              SELECT k_bucket,
                     CAST(successes AS BIGINT) AS successes,
                     CAST(trials AS BIGINT) AS trials,
                     CAST(24010000 * successes * (trials - successes) * trials
                          + 23059204 * trials * trials AS BIGINT) AS rad
              FROM g
            ),
            t AS (
              SELECT *,
                     CAST(floor(sqrt(CAST(rad AS DOUBLE))) AS BIGINT) AS t0
              FROM r
            ),
            i AS (
              SELECT *,
                     t0 + CASE WHEN (t0 + 1) * (t0 + 1) <= rad THEN 1
                               WHEN t0 * t0 > rad THEN -1
                               ELSE 0 END AS isq
              FROM t
            )
            SELECT k_bucket, successes, trials,
                   CAST((1000000 * (trials * (2500 * successes + 4802) - isq))
                        // (trials * (2500 * trials + 9604)) AS BIGINT)
                     AS wilson_lb_ppm
            FROM i""",
        "q_gini": """
            WITH per AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_cents
              FROM orders GROUP BY o_custkey
            ),
            ranked AS (
              SELECT rev_cents,
                     row_number() OVER (ORDER BY rev_cents, o_custkey) AS i
              FROM per
            ),
            agg AS (
              SELECT COUNT(*) AS n,
                     CAST(SUM(rev_cents) AS BIGINT) AS sx,
                     CAST(SUM(i * rev_cents) AS BIGINT) AS six
              FROM ranked
            )
            SELECT CAST(n AS BIGINT) AS n_customers,
                   sx AS total_cents,
                   CAST(floor((CAST(2 * six AS DOUBLE)
                               / CAST(n * sx AS DOUBLE)
                               - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
                              * 1000000000.0) AS BIGINT) AS gini_ppb
            FROM agg""",
        "q_chisq_independence": """
            WITH j AS (
              SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ),
            cells AS (SELECT seg, prio, COUNT(*) AS obs FROM j GROUP BY 1, 2),
            rows_m AS (SELECT seg, COUNT(*) AS row_tot FROM j GROUP BY 1),
            cols_m AS (SELECT prio, COUNT(*) AS col_tot FROM j GROUP BY 1),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM j)
            , e AS (SELECT cells.seg, cells.prio, cells.obs,
                           row_tot * col_tot / nn AS expd
                    FROM cells
                    JOIN rows_m ON cells.seg = rows_m.seg
                    JOIN cols_m ON cells.prio = cols_m.prio
                    CROSS JOIN tot)
            SELECT seg, prio, obs,
                   CAST(floor(expd * 1000000.0) AS BIGINT) AS expected_micro,
                   CAST(floor((obs - expd) * (obs - expd) / expd
                              * 1000000.0) AS BIGINT) AS chi2_term_micro
            FROM e""",
        "q_mannwhitney": """
            WITH li AS (
              SELECT l_returnflag,
                     CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS cents
              FROM lineitem WHERE l_returnflag IN ('R', 'A')
            ),
            ranked AS (
              SELECT l_returnflag,
                     2 * CAST(rank() OVER (ORDER BY cents) AS BIGINT)
                     + (COUNT(*) OVER (PARTITION BY cents) - 1)
                       AS twice_rank
              FROM li
            ),
            agg AS (
              SELECT SUM(CASE WHEN l_returnflag = 'R' THEN twice_rank END)
                       AS r2a,
                     SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                       AS na,
                     SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                       AS nb
              FROM ranked
            ),
            u AS (SELECT na, nb, r2a - na * (na + 1) AS u2,
                         CAST(r2a - na * (na + 1) AS DOUBLE) / 2 AS ud,
                         CAST(na AS DOUBLE) AS nad,
                         CAST(nb AS DOUBLE) AS nbd
                  FROM agg)
            SELECT CAST(na AS BIGINT) AS n_ret, CAST(nb AS BIGINT) AS n_acc,
                   CAST(u2 AS BIGINT) AS u_stat_x2,
                   CAST(floor((ud - nad * nbd / 2)
                              / sqrt(nad * nbd * (nad + nbd + 1) / 12)
                              * 1000000.0) AS BIGINT) AS z_micro
            FROM u""",
        "q_decile_grid": _decile_oracle(),
        "q_weighted_median": """
            WITH staged AS (
              SELECT l_returnflag, l_extendedprice,
                     SUM(CAST(l_quantity AS BIGINT))
                       OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice, l_orderkey, l_linenumber
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     SUM(CAST(l_quantity AS BIGINT))
                       OVER (PARTITION BY l_returnflag) AS tot
              FROM lineitem
            )
            SELECT l_returnflag,
                   CAST(round(MIN(l_extendedprice) * 100) AS BIGINT)
                       AS weighted_median_cents,
                   CAST(MIN(tot) AS BIGINT) AS total_weight
            FROM staged WHERE 2 * cum >= tot
            GROUP BY l_returnflag""",
        "q_survivorship": """
            WITH base AS (
              SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
                       AS norm_hash,
                     doc_id, n_chars, source
              FROM documents
            ),
            surv AS (
              SELECT norm_hash, doc_id AS survivor_id,
                     n_chars AS survivor_len,
                     row_number() OVER (PARTITION BY norm_hash
                                        ORDER BY n_chars DESC, doc_id DESC)
                       AS rn
              FROM base
            )
            SELECT s.norm_hash, s.survivor_id, s.survivor_len,
                   g.n_members, g.n_sources
            FROM (SELECT * FROM surv WHERE rn = 1) s
            JOIN (SELECT norm_hash, COUNT(*) AS n_members,
                         COUNT(DISTINCT source) AS n_sources
                  FROM base GROUP BY norm_hash) g USING (norm_hash)""",
        "q_grouping_id": """
            SELECT c_mktsegment AS seg, c_nationkey % 5 AS ngrp,
                   CAST(GROUPING(c_mktsegment) * 2
                        + GROUPING(c_nationkey % 5) AS INT) AS gid,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS bal_cents
            FROM customer
            GROUP BY CUBE(c_mktsegment, c_nationkey % 5)""",
        "q_centroid_matrix": """
            WITH comp AS (
              SELECT label,
                     CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6
                                + 0.5) AS BIGINT) AS x_e6
              FROM embeddings
            ),
            cent AS (
              SELECT label, pos, CAST(SUM(x_e6) AS BIGINT) AS s
              FROM comp GROUP BY label, pos
            ),
            pairs AS (
              SELECT a.label AS label_a, b.label AS label_b,
                     CAST(SUM(a.s * b.s) AS BIGINT) AS dot,
                     CAST(SUM(a.s * a.s) AS BIGINT) AS na2,
                     CAST(SUM(b.s * b.s) AS BIGINT) AS nb2
              FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
              GROUP BY a.label, b.label
            )
            SELECT label_a, label_b,
                   CAST(floor((CAST(dot AS DOUBLE)
                               / (sqrt(CAST(na2 AS DOUBLE))
                                  * sqrt(CAST(nb2 AS DOUBLE))))
                              * 1000000.0) AS BIGINT) AS cosine_ppm
            FROM pairs""",
        "q_markov_transitions": """
            WITH pairs AS (
              SELECT event_type AS src_event,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS dst_event
              FROM events
            ),
            counts AS (
              SELECT src_event, dst_event, COUNT(*) AS n
              FROM pairs WHERE dst_event IS NOT NULL
              GROUP BY src_event, dst_event
            )
            SELECT src_event, dst_event, n,
                   CAST(floor((n / SUM(n) OVER (PARTITION BY src_event))
                              * 1000000.0) AS BIGINT) AS p_transition_ppm
            FROM counts""",
        "q_csv_malformed": f"""
            SELECT COUNT(*) AS n_rows,
                   COUNT(CASE WHEN l_orderkey % 97 <> 0 THEN 1 END)
                       AS n_parsed,
                   {_dsum(
                       "CASE WHEN l_orderkey % 97 <> 0 "
                       "THEN l_quantity END", 2)} AS sum_parsed
            FROM lineitem""",
        "q_fuzzy_match": """
            WITH names AS (SELECT DISTINCT p_name AS name FROM part),
                 nb AS (SELECT name, string_split(name, ' ')[-1] AS block
                        FROM names)
            SELECT a.name AS name_a, b.name AS name_b,
                   CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
            FROM nb a JOIN nb b
              ON a.block = b.block AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 3
            ORDER BY name_a, name_b""",
        "q_bool_agg": """
            SELECT o_orderpriority,
                   bool_and(o_totalprice > 0) AS all_positive,
                   bool_or(o_orderstatus = 'F') AS any_finished,
                   COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority""",
        "q_posexplode": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
                 s AS (SELECT doc_id, ws,
                              unnest(range(1, least(len(ws), 5) + 1)) AS i
                       FROM w)
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ws[i] AS word
            FROM s""",
        "q_salted_join": f"""
            SELECT o_orderpriority,
                   COUNT(*) AS n_lines,
                   {_dsum("l_extendedprice", 2)} AS sum_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority""",
        "q_merge_upsert": f"""
            WITH delta AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     o_totalprice + 1000.0 AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 10 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                     o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 17 = 0),
            merged AS (
              SELECT * FROM orders
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
              UNION ALL
              SELECT * FROM delta)
            SELECT o_orderstatus,
                   COUNT(*) AS n_orders,
                   {_dsum("o_totalprice", 2)} AS sum_total
            FROM merged
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus""",
        "q_scd2_history": """
            WITH snap1 AS (
              SELECT c_custkey, c_name, c_mktsegment, c_acctbal
              FROM customer),
            snap2 AS (
              SELECT c_custkey, c_name,
                     CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
                          ELSE c_mktsegment END AS c_mktsegment,
                     c_acctbal
              FROM customer WHERE c_custkey % 13 <> 0
              UNION ALL
              SELECT c_custkey + 1000000, c_name, c_mktsegment, c_acctbal
              FROM customer WHERE c_custkey % 11 = 0),
            same AS (
              SELECT s1.c_custkey
              FROM snap1 s1 JOIN snap2 s2 ON s1.c_custkey = s2.c_custkey
              WHERE s1.c_name IS NOT DISTINCT FROM s2.c_name
                AND s1.c_mktsegment IS NOT DISTINCT FROM s2.c_mktsegment
                AND s1.c_acctbal IS NOT DISTINCT FROM s2.c_acctbal)
            SELECT s1.c_custkey, s1.c_name, s1.c_mktsegment, s1.c_acctbal,
                   DATE '2025-01-01' AS valid_from,
                   CAST(NULL AS DATE) AS valid_to,
                   TRUE AS is_current
            FROM snap1 s1 WHERE s1.c_custkey IN (SELECT c_custkey FROM same)
            UNION ALL
            SELECT s1.c_custkey, s1.c_name, s1.c_mktsegment, s1.c_acctbal,
                   DATE '2025-01-01', DATE '2025-02-01', FALSE
            FROM snap1 s1
            WHERE s1.c_custkey NOT IN (SELECT c_custkey FROM same)
            UNION ALL
            SELECT s2.c_custkey, s2.c_name, s2.c_mktsegment, s2.c_acctbal,
                   DATE '2025-02-01', CAST(NULL AS DATE), TRUE
            FROM snap2 s2
            WHERE s2.c_custkey NOT IN (SELECT c_custkey FROM same)""",
        "q_profile_table": f"""
            SELECT COUNT(*) AS n_rows,
                   COUNT(DISTINCT l_orderkey) AS n_orders,
                   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS null_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   {_dsum("l_quantity", 2)} AS sum_qty,
                   MIN(CAST(l_shipdate AS DATE)) AS first_ship,
                   MAX(CAST(l_shipdate AS DATE)) AS last_ship,
                   CAST(MAX(length(l_returnflag)) AS INTEGER)
                       AS max_flag_len
            FROM lineitem""",
        "q_moving_avg": """
            WITH daily AS (
              SELECT CAST(l_shipdate AS DATE) AS ship_date,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                          AS BIGINT) AS rev_cents
              FROM lineitem GROUP BY 1)
            SELECT ship_date,
                   rev_cents / 100.0 AS day_revenue,
                   SUM(rev_cents) OVER w
                       / (100.0 * COUNT(*) OVER w) AS ma7_revenue
            FROM daily
            WINDOW w AS (ORDER BY ship_date ROWS BETWEEN 6 PRECEDING
                         AND CURRENT ROW)
            ORDER BY ship_date""",
        "q_bigrams": """
            WITH w AS (SELECT string_split(text, ' ') AS ws
                       FROM documents),
                 s AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM w)
            SELECT ws[i] || ' ' || ws[i + 1] AS bigram,
                   COUNT(*) AS n
            FROM s
            GROUP BY bigram
            ORDER BY n DESC, bigram
            LIMIT 20""",
        "q_zorder": _zorder_oracle(),
        "q_try_arithmetic": f"""
            WITH g AS (
              SELECT o_orderpriority,
                     {_dsum("o_totalprice", 2)} AS sum_total,
                     COUNT(*) AS n_orders,
                     COUNT(*) FILTER (WHERE o_totalprice < 0) AS n_negative
              FROM orders GROUP BY o_orderpriority)
            SELECT o_orderpriority,
                   sum_total / n_orders AS avg_total,
                   CASE WHEN n_negative = 0 THEN NULL
                        ELSE sum_total / n_negative END AS div_by_zero
            FROM g ORDER BY o_orderpriority""",
        "q_line_dedup": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
                 lines AS (
                   SELECT doc_id,
                          unnest(range(1, len(ws) + 1)) AS i, ws
                   FROM w),
                 hashed AS (
                   SELECT doc_id, i - 1 AS pos, ws[i] AS line,
                          CAST(('0x' || substr(md5(ws[i]), 1, 15)) AS BIGINT)
                              AS lh
                   FROM lines),
                 hot AS (
                   SELECT lh FROM hashed
                   GROUP BY lh HAVING COUNT(*) > 500)
            SELECT h.doc_id,
                   COALESCE(array_to_string(
                       list(h.line ORDER BY h.pos)
                           FILTER (WHERE hot.lh IS NULL), ' '), '')
                       AS text,
                   COUNT(*) FILTER (WHERE hot.lh IS NULL) AS n_lines_kept,
                   COUNT(*) FILTER (WHERE hot.lh IS NOT NULL)
                       AS n_lines_dropped
            FROM hashed h LEFT JOIN hot ON h.lh = hot.lh
            GROUP BY h.doc_id""",
        "q_set_ops_all": """
            WITH a AS (SELECT o_custkey FROM orders
                       WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
                 b AS (SELECT o_custkey FROM orders
                       WHERE EXTRACT(YEAR FROM o_orderdate) = 1996),
                 ua AS (SELECT * FROM a UNION ALL SELECT * FROM b),
                 ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
                 ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
            SELECT 'union_all' AS op, COUNT(*) AS n_rows,
                   COUNT(DISTINCT o_custkey) AS n_keys FROM ua
            UNION ALL
            SELECT 'intersect_all', COUNT(*), COUNT(DISTINCT o_custkey)
            FROM ia
            UNION ALL
            SELECT 'except_all', COUNT(*), COUNT(DISTINCT o_custkey)
            FROM ea""",
        "q_gaps_islands": """
            WITH days AS (
              SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
              FROM orders),
            islands AS (
              SELECT o_custkey, d,
                     d - CAST(ROW_NUMBER() OVER
                         (PARTITION BY o_custkey ORDER BY d) AS INTEGER)
                         AS island
              FROM days),
            per_island AS (
              SELECT o_custkey, island, COUNT(*) AS len
              FROM islands GROUP BY o_custkey, island)
            SELECT o_custkey,
                   COUNT(*) AS n_streaks,
                   MAX(len) AS max_streak
            FROM per_island
            GROUP BY o_custkey
            ORDER BY o_custkey""",
        "q_semdedup": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id < 16
            ),
            assigned AS (
              SELECT vec_id, embedding, cid AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.cid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1
            ),
            keep AS (SELECT cell, MIN(vec_id) AS keeper_id
                     FROM assigned GROUP BY cell),
            kv AS (SELECT k.cell, k.keeper_id, e.embedding AS kvec
                   FROM keep k JOIN embeddings e ON e.vec_id = k.keeper_id)
            SELECT a.vec_id, a.cell,
                   (a.vec_id = k.keeper_id
                    OR list_cosine_similarity(a.embedding::DOUBLE[],
                                              k.kvec::DOUBLE[]) < 0.45)
                       AS is_kept
            FROM assigned a JOIN kv k USING (cell)""",
        "q_minhash_est": f"""
            WITH {_SHINGLE_CTE},
            h31 AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                         % 2147483647 AS h31
              FROM sh
            ),
            hx AS (
              SELECT doc_id, i,
                     MIN(({_MH_A}[i + 1] * h31 + {_MH_B}[i + 1]) % 2147483647)
                         AS sig
              FROM h31, range(32) t(i)
              GROUP BY doc_id, i
            ),
            bands AS (
              SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
                     md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i))
                         AS bucket
              FROM hx GROUP BY doc_id, CAST(i // 4 AS INTEGER)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b USING (band, bucket)
              WHERE a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)
                        AS BIGINT) AS agree_k,
                   CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)
                        * 1000000 // 32 AS BIGINT) AS est_ppm
            FROM cand
            JOIN hx sa ON sa.doc_id = doc_a
            JOIN hx sb ON sb.doc_id = doc_b AND sb.i = sa.i
            GROUP BY doc_a, doc_b""",
        "q_quality_weights": """
            WITH b AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(len(list_filter(string_split(text, ' '),
                          w -> list_contains(['a','the','of','and','to',
                                              'in','is'], w)))
                          AS BIGINT) AS n_stop,
                     CAST(len(list_filter(string_split(text, ' '),
                          w -> regexp_matches(w, '[0-9]')))
                          AS BIGINT) AS n_digit
              FROM documents),
            f AS (
              SELECT doc_id, n_words,
                     CAST(CASE WHEN n_words > 0
                          THEN ((n_chars - n_words + 1) * 1000000) // n_words
                          ELSE 0 END AS BIGINT) AS mean_wlen_ppm,
                     CAST(CASE WHEN n_words > 0
                          THEN (n_stop * 1000000) // n_words
                          ELSE 0 END AS BIGINT) AS stopword_ppm,
                     CAST(CASE WHEN n_words > 0
                          THEN (n_digit * 1000000) // n_words
                          ELSE 0 END AS BIGINT) AS digit_word_ppm
              FROM b)
            SELECT doc_id, n_words, mean_wlen_ppm, stopword_ppm,
                   digit_word_ppm,
                   CAST(n_words * 3 + mean_wlen_ppm * 2 + stopword_ppm
                        - digit_word_ppm * 2 AS BIGINT) AS score,
                   (n_words * 3 + mean_wlen_ppm * 2 + stopword_ppm
                    - digit_word_ppm * 2) >= 9000000 AS keep
            FROM f""",
        "q_source_cap": """
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5('cap' ||
                                CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                                doc_id) AS INTEGER) AS cap_rank,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5('cap' ||
                                CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                                doc_id) <= 20 AS kept
            FROM documents""",
        "q_cluster_sizes": f"""
            WITH RECURSIVE {_JACCARD_CTE},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b AS a, doc_a AS b FROM pairs),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            clusters AS (
              SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
              FROM reach GROUP BY a),
            per_cluster AS (
              SELECT cluster_id, COUNT(*) AS cluster_size
              FROM clusters GROUP BY cluster_id)
            SELECT cluster_size,
                   COUNT(*) AS n_clusters,
                   CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
            FROM per_cluster GROUP BY cluster_size""",
        "q_dup_ngram": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            g AS (SELECT doc_id,
                         CASE WHEN len(ws) >= 2
                              THEN list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])
                              ELSE [] END AS grams
                  FROM w)
            SELECT doc_id,
                   CAST(len(grams) AS BIGINT) AS n_ngrams,
                   CAST(CASE WHEN len(grams) > 0
                        THEN ((len(grams) - len(list_distinct(grams)))
                              * 1000000) // len(grams)
                        ELSE 0 END AS BIGINT) AS dup_ppm
            FROM g""",
        "q_dedup_normalized": """
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
                       AS norm_hash,
                   MIN(doc_id) AS keeper_id,
                   COUNT(*) AS n_dups
            FROM documents GROUP BY 1""",
        "q_cross_corpus": f"""
            WITH {_JACCARD_CTE}
            SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END
                       AS left_id,
                   CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END
                       AS right_id,
                   {floor_scaled_sql("jaccard", 9, "jaccard_ppb")}
            FROM jac
            WHERE jaccard >= 0.8 AND (doc_a % 2) <> (doc_b % 2)""",
        "q_word_entropy": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents)
            SELECT doc_id,
                   CAST(len(ws) AS INTEGER) AS n_words,
                   CAST(coalesce(list_sum(list_transform(list_distinct(ws),
                       t -> -CAST(floor(
                            (CAST(len(list_filter(ws, x -> x = t)) AS DOUBLE)
                               / len(ws))
                            * log2(CAST(len(list_filter(ws, x -> x = t))
                                        AS DOUBLE) / len(ws))
                            * 1000000000.0) AS BIGINT))), 0) AS BIGINT)
                       AS entropy_nanobits
            FROM w""",
        "q_length_histogram": """
            WITH n AS (SELECT len(string_split(text, ' ')) AS n_words
                       FROM documents),
            b AS (SELECT CAST(floor(log2(CAST(n_words AS DOUBLE)))
                              AS INTEGER) AS bucket_exp,
                         n_words
                  FROM n)
            SELECT bucket_exp,
                   CAST(pow(2.0, bucket_exp) AS BIGINT) AS bucket_lo,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS total_words,
                   CAST(MIN(n_words) AS INTEGER) AS min_words,
                   CAST(MAX(n_words) AS INTEGER) AS max_words
            FROM b GROUP BY 1, 2""",
        "q_sliding_window": """
            WITH e AS (
              SELECT to_timestamp(CAST(floor(epoch(ts) / 300) * 300
                                       AS BIGINT)) AS b,
                     user_id
              FROM events),
            x AS (SELECT unnest([b - INTERVAL 5 MINUTE, b]) AS ws, user_id
                  FROM e)
            SELECT epoch_us(ws) AS window_start_us,
                   epoch_us(ws + INTERVAL 10 MINUTE) AS window_end_us,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users
            FROM x GROUP BY 1, 2""",
        "q_mix_temperature": """
            WITH per AS (
              SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                         AS n_tokens
              FROM documents GROUP BY source),
            per2 AS (
              SELECT source, n_docs, n_tokens,
                     CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0)
                          AS BIGINT) AS pw_q20
              FROM per),
            tot AS (
              SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens,
                     CAST(SUM(pw_q20) AS DOUBLE) AS tot_pow
              FROM per2)
            SELECT source, n_docs, n_tokens,
                   CAST(floor((CAST(n_tokens AS DOUBLE) / tot_tokens)
                              * 1000000000.0) AS BIGINT) AS p_raw_ppb,
                   CAST(floor((CAST(pw_q20 AS DOUBLE) / tot_pow)
                              * 1000000000.0) AS BIGINT) AS p_temp_ppb,
                   CAST(floor((CAST(pw_q20 AS DOUBLE) / tot_pow)
                              / (CAST(n_tokens AS DOUBLE) / tot_tokens)
                              * 1000000.0) AS BIGINT) AS epochs_micro
            FROM per2, tot""",
        "q_corr_stats": f"""
            WITH r AS (SELECT l_returnflag,
                              CAST(round(l_quantity) AS BIGINT) AS q,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                  AS pc
                       FROM lineitem),
            a AS (SELECT l_returnflag, COUNT(*) AS n_pairs,
                         SUM(q) AS sx_, SUM(q * q) AS sxx_,
                         SUM(pc) AS sy_, SUM(pc * pc) AS syy_,
                         SUM(q * pc) AS sxy_
                  FROM r GROUP BY l_returnflag),
            g AS (SELECT l_returnflag, n_pairs,
                         CAST(n_pairs AS DOUBLE) AS n,
                         {det_double_sql("sx_")} AS sx,
                         {det_double_sql("sxx_")} AS sxx,
                         {det_double_sql("sy_")} AS sy,
                         {det_double_sql("syy_")} AS syy,
                         {det_double_sql("sxy_")} AS sxy
                  FROM a),
            d AS (SELECT l_returnflag, n_pairs, n, sx, sy,
                         sxy - sx * sy / n AS cs,
                         sxx - sx * sx / n AS denq,
                         syy - sy * sy / n AS denp
                  FROM g),
            e AS (SELECT *, cs / (sqrt(denq) * sqrt(denp)) AS corr_v
                  FROM d)
            SELECT l_returnflag,
                   {floor_scaled_sql("corr_v", 9, "corr_qty_price_ppb")},
                   {floor_scaled_sql("cs / (n - 1) / 100", 3,
                                     "covar_s_milli")},
                   {floor_scaled_sql("cs / n / 100", 3, "covar_p_milli")},
                   {floor_scaled_sql("cs / denq / 100", 6, "slope_micro")},
                   {floor_scaled_sql(
                       "(sy / n - cs / denq * (sx / n)) / 100", 3,
                       "intercept_milli")},
                   {floor_scaled_sql("corr_v * corr_v", 9, "r2_ppb")},
                   CAST(n_pairs AS BIGINT) AS n_pairs
            FROM e""",
        "q_ann_sq8": """
            WITH v AS (SELECT vec_id,
                              CAST(generate_subscripts(embedding, 1) AS INT)
                                  AS pos,
                              CAST(unnest(embedding) AS DOUBLE) AS x
                       FROM embeddings),
            s AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY pos),
            c AS (SELECT vec_id, v.pos,
                         CASE WHEN mx > mn
                              THEN CAST(floor((x - mn) * 255.0 / (mx - mn)
                                              + 0.5) AS BIGINT)
                              ELSE 0 END AS code
                  FROM v JOIN s ON v.pos = s.pos),
            q AS (SELECT pos, code AS qcode FROM c WHERE vec_id = 0),
            sc AS (SELECT c.vec_id, CAST(SUM(c.code * q.qcode) AS BIGINT)
                              AS qdot
                   FROM c JOIN q ON c.pos = q.pos
                   WHERE c.vec_id <> 0 GROUP BY c.vec_id)
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY qdot DESC, vec_id)
                        AS INTEGER) AS rnk,
                   qdot
            FROM sc QUALIFY rnk <= 10""",
        "q_pmi_bigrams": """
            WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
            big AS (
              SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS c12
              FROM (SELECT unnest(list_transform(range(1, len(ws)),
                               i -> {'w1': ws[i], 'w2': ws[i+1]})) AS g
                    FROM w WHERE len(ws) >= 2)
              GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            uni AS (SELECT word, COUNT(*) AS c
                    FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
            tot AS (SELECT CAST(SUM(len(ws)) AS DOUBLE) AS n_uni,
                           CAST(SUM(greatest(len(ws) - 1, 0)) AS DOUBLE)
                               AS n_big
                    FROM w)
            SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
                   CAST(floor(ln((CAST(b.c12 AS DOUBLE) / n_big)
                               / ((CAST(u1.c AS DOUBLE) / n_uni)
                                  * (CAST(u2.c AS DOUBLE) / n_uni)))
                              * 1000000.0) AS BIGINT) AS pmi_micro
            FROM big b
            JOIN uni u1 ON b.w1 = u1.word
            JOIN uni u2 ON b.w2 = u2.word, tot""",
        "q_skyline": """
            SELECT p_brand, p_size, p_retailprice
            FROM part a
            WHERE NOT EXISTS (
              SELECT 1 FROM part b
              WHERE b.p_brand = a.p_brand
                AND b.p_size >= a.p_size
                AND b.p_retailprice >= a.p_retailprice
                AND (b.p_size > a.p_size
                     OR b.p_retailprice > a.p_retailprice))""",
        "q_bucketed_join": f"""
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   {_dsum("o_totalprice")} AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1""",
        "q_percentile_cont": """
            WITH per AS (SELECT l_returnflag,
                                quantile_cont(
                                    CAST(round(l_extendedprice * 100)
                                         AS BIGINT),
                                    [0.25, 0.5, 0.75]) AS pcts
                         FROM lineitem GROUP BY 1)
            SELECT l_returnflag, CAST(pos - 1 AS INTEGER) AS pos,
                   CAST(val * 4 AS BIGINT) AS val_qcents
            FROM (SELECT l_returnflag,
                         generate_subscripts(pcts, 1) AS pos,
                         unnest(pcts) AS val
                  FROM per)""",
        "q_session_native": f"""
            WITH s AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                  >= 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            g AS (
              SELECT user_id, ts, value,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM s)
            SELECT user_id,
                   epoch_us(MIN(ts)) AS session_start_us,
                   epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
                   COUNT(*) AS n_events,
                   {_dsum("value")} AS sum_value
            FROM g GROUP BY user_id, sid""",
        "q_triangles": """
            WITH raw AS (SELECT o_custkey % 500 AS src,
                                o_orderkey % 700 AS dst
                         FROM orders),
            e AS (SELECT DISTINCT least(src, dst) AS lo,
                                  greatest(src, dst) AS hi
                  FROM raw WHERE least(src, dst) < greatest(src, dst))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM e ab
            JOIN e bc ON ab.hi = bc.lo
            JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi""",
        "q_regexp_extract_all": """
            SELECT c_custkey,
                   CAST(len(runs) AS INTEGER) AS n_runs,
                   runs[1] AS first_run,
                   runs[-1] AS last_run,
                   CAST(coalesce(list_sum(list_transform(runs,
                            s -> CAST(s AS BIGINT))), 0) AS BIGINT)
                       AS digit_sum
            FROM (SELECT c_custkey,
                         regexp_extract_all(c_name, '([0-9]+)', 1) AS runs
                  FROM customer)""",
        "q_compaction": r"""
            SELECT COUNT(*) AS n_rows,
                   bit_xor(CAST(('0x' || substr(md5(
                       concat_ws('|',
                           COALESCE(CAST(o_orderkey AS VARCHAR), '\N'),
                           COALESCE(CAST(o_custkey AS VARCHAR), '\N'),
                           COALESCE(o_orderstatus, '\N'))), 1, 15))
                       AS BIGINT)) AS checksum
            FROM orders""",
        "q_schema_evolution": f"""
            SELECT c_custkey % 2 AS batch, COUNT(*) AS n,
                   COUNT(CASE WHEN c_custkey % 2 = 1
                              THEN c_mktsegment END) AS n_seg,
                   {_dsum("c_acctbal")} AS sum_bal
            FROM customer GROUP BY 1""",
        "q_feature_hash": """
            WITH b AS (SELECT doc_id,
                              list_transform(string_split(text, ' '),
                                  w -> CAST(('0x' || substr(md5(w), 1, 15))
                                            AS BIGINT) % 16) AS bk
                       FROM documents)
            SELECT doc_id,
                   """
        + ",\n                   ".join(
            f"CAST(len(list_filter(bk, x -> x = {i})) AS INTEGER) AS f{i}"
            for i in range(16)
        )
        + """
            FROM b""",
        "q_cdc_apply": """
            WITH snap AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                          FROM orders),
            ch AS (
              SELECT o_orderkey, seq,
                     CASE ((o_orderkey + seq) % 4)
                          WHEN 0 THEN 'D' WHEN 1 THEN 'I'
                          ELSE 'U' END AS op,
                     CAST(o_totalprice + 1000 * (seq + 1) AS DOUBLE)
                         AS o_totalprice,
                     'X' AS o_orderstatus
              FROM orders CROSS JOIN unnest([0, 1]) AS t(seq)
              WHERE o_orderkey % 7 = 0),
            head AS (
              SELECT * FROM (
                SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC, op DESC) AS rn
                FROM ch)
              WHERE rn = 1),
            surv AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                     FROM head WHERE op <> 'D'),
            untouched AS (SELECT s.* FROM snap s
                          ANTI JOIN head USING (o_orderkey))
            SELECT * FROM untouched UNION ALL SELECT * FROM surv""",
        "q_cdc_microbatch": """
            WITH snap AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                          FROM orders),
            ch AS (
              SELECT o_orderkey, seq,
                     CASE ((o_orderkey + seq) % 4)
                          WHEN 0 THEN 'D' WHEN 1 THEN 'I'
                          ELSE 'U' END AS op,
                     CAST(o_totalprice + 1000 * (seq + 1) AS DOUBLE)
                         AS o_totalprice,
                     'X' AS o_orderstatus
              FROM orders CROSS JOIN unnest([0, 1, 2]) AS t(seq)
              WHERE o_orderkey % 7 = 0),
            head AS (
              SELECT * FROM (
                SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC, op DESC) AS rn
                FROM ch)
              WHERE rn = 1),
            surv AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                     FROM head WHERE op <> 'D'),
            untouched AS (SELECT s.* FROM snap s
                          ANTI JOIN head USING (o_orderkey))
            SELECT * FROM untouched UNION ALL SELECT * FROM surv""",
        "q_stream_attribution": """
            WITH c AS (SELECT user_id, event_id AS click_id,
                              ts AS click_ts
                       FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, event_id AS purchase_id,
                         ts AS purchase_ts, value
                  FROM events WHERE event_type = 'purchase')
            SELECT p.user_id, purchase_id,
                   epoch_us(purchase_ts) AS purchase_us,
                   CAST(floor(value * 100) AS BIGINT) AS purchase_cents,
                   click_id,
                   epoch_us(click_ts) AS click_us
            FROM p JOIN c ON p.user_id = c.user_id
                          AND p.purchase_ts >= c.click_ts
                          AND p.purchase_ts <= c.click_ts
                                                + INTERVAL 1 HOUR""",
        "q_kaplan_meier": """
            WITH obs AS (
              SELECT least(CAST(l_shipdate AS DATE)
                           - CAST(o_orderdate AS DATE), 45) AS t,
                     CASE WHEN CAST(l_shipdate AS DATE)
                               - CAST(o_orderdate AS DATE) <= 45
                          THEN 1 ELSE 0 END AS e
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            grp AS (SELECT t, CAST(SUM(e) AS BIGINT) AS d,
                           CAST(SUM(1 - e) AS BIGINT) AS c
                    FROM obs GROUP BY 1),
            st AS (SELECT *,
                          SUM(d + c) OVER (ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS cumrem,
                          SUM(d + c) OVER () AS N
                   FROM grp),
            r AS (SELECT t, d, c, N - (cumrem - (d + c)) AS n_at_risk
                  FROM st)
            SELECT t, d, c, CAST(n_at_risk AS BIGINT) AS n_at_risk,
                   CAST(SUM(CAST(floor(ln(1.0 - d / n_at_risk) * 1e12)
                                 AS BIGINT))
                        OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS logsurv_pico
            FROM r""",
        "q_psi_drift": """
            WITH b AS (
              SELECT CAST(floor(log10(o_totalprice)) AS INTEGER) AS mag_bin,
                     CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1997
                          THEN 1 ELSE 0 END AS period
              FROM orders),
            per AS (SELECT mag_bin,
                           CAST(SUM(1 - period) AS BIGINT) AS n1,
                           CAST(SUM(period) AS BIGINT) AS n2
                    FROM b GROUP BY 1),
            tot AS (SELECT CAST(SUM(n1) AS DOUBLE) AS t1,
                           CAST(SUM(n2) AS DOUBLE) AS t2 FROM per)
            SELECT mag_bin, n1, n2,
                   CASE WHEN n1 > 0 AND n2 > 0
                        THEN CAST(floor(((n2 / t2 - n1 / t1)
                                         * ln((n2 / t2) / (n1 / t1)))
                                        * 1000000.0) AS BIGINT)
                        END AS psi_term_micro
            FROM per, tot""",
        "q_mutual_info": """
            WITH cells AS (
              SELECT CAST(least(CAST(l_quantity AS INTEGER) - 1, 49) // 5
                          AS INTEGER) AS qty_bin,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
              FROM lineitem),
            joint AS (SELECT qty_bin, y, COUNT(*) AS n_xy FROM cells
                      GROUP BY 1, 2),
            px AS (SELECT qty_bin, COUNT(*) AS n_x FROM cells GROUP BY 1),
            py AS (SELECT y, COUNT(*) AS n_y FROM cells GROUP BY 1),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM cells)
            SELECT j.qty_bin, j.y, CAST(j.n_xy AS BIGINT) AS n_xy,
                   CAST(floor((j.n_xy / n) * ln((j.n_xy / n)
                            / ((px.n_x / n) * (py.n_y / n)))
                        * 1000000000.0) AS BIGINT) AS mi_term_ppb
            FROM joint j JOIN px USING (qty_bin) JOIN py USING (y), tot""",
        "q_rolling_slope": """
            WITH daily AS (
              SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                          AS INTEGER) AS epoch_day,
                     SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS cents
              FROM orders GROUP BY 1),
            win AS (
              SELECT epoch_day, cents,
                     CAST(COUNT(*) OVER w AS DOUBLE) AS n,
                     CAST(SUM(epoch_day) OVER w AS DOUBLE) AS sx,
                     CAST(SUM(CAST(epoch_day AS BIGINT) * epoch_day)
                          OVER w AS DOUBLE) AS sxx,
                     CAST(SUM(cents) OVER w AS DOUBLE) AS sy,
                     CAST(SUM(epoch_day * cents) OVER w AS DOUBLE) AS sxy,
                     CAST(COUNT(*) OVER w AS INTEGER) AS n_days_30d
              FROM daily
              WINDOW w AS (ORDER BY epoch_day
                           RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
            SELECT epoch_day, CAST(cents AS BIGINT) AS revenue_cents,
                   CASE WHEN n * sxx - sx * sx <> 0.0 THEN
                        CAST(floor((n * sxy - sx * sy)
                                   / (n * sxx - sx * sx) * 10000.0)
                             AS BIGINT) END AS slope_30d_micro,
                   n_days_30d
            FROM win""",
        "q_woe_binning": """
            WITH b AS (SELECT CAST(least(CAST(l_quantity AS INTEGER) - 1,
                                         49) // 5 AS INTEGER) AS qty_bin,
                              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                                   END AS is_event
                       FROM lineitem),
            per AS (SELECT qty_bin,
                           CAST(SUM(is_event) AS BIGINT) AS n_event,
                           CAST(SUM(1 - is_event) AS BIGINT) AS n_nonevent
                    FROM b GROUP BY 1),
            tot AS (SELECT CAST(SUM(n_event) AS DOUBLE) AS tot_e,
                           CAST(SUM(n_nonevent) AS DOUBLE) AS tot_ne
                    FROM per)
            SELECT qty_bin, n_event, n_nonevent,
                   CAST(floor(ln((n_event / tot_e) / (n_nonevent / tot_ne))
                              * 1000000.0) AS BIGINT) AS woe_micro
            FROM per, tot""",
        "q_benford": f"""
            WITH per AS (
              SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                           AS BIGINT) AS VARCHAR), 1, 1)
                          AS INTEGER) AS digit,
                     COUNT(*) AS n
              FROM orders GROUP BY 1),
            tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM per),
            e AS (SELECT digit, n, tot, {_BENFORD_CASE} AS expd
                  FROM per, tot)
            SELECT digit, n,
                   {floor_scaled_sql("n / tot", 6, "obs_share_ppm")},
                   {floor_scaled_sql("expd", 6, "benford_share_ppm")},
                   {floor_scaled_sql(
                       "(n - tot * expd) * (n - tot * expd)"
                       " / (tot * expd)", 6, "chi2_term_micro")}
            FROM e""",
        "q_welch_ttest": f"""
            WITH rw AS (SELECT l_returnflag,
                               CAST(round(l_extendedprice * 100) AS BIGINT)
                                   AS pc
                        FROM lineitem WHERE l_returnflag IN ('R', 'A')),
            agg AS (SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
                           SUM(pc) AS s_, SUM(pc * pc) AS ss_
                    FROM rw GROUP BY 1),
            per AS (SELECT l_returnflag, n,
                           {det_double_sql("s_")} / n AS m,
                           ({det_double_sql("ss_")}
                            - {det_double_sql("s_")} * {det_double_sql("s_")}
                              / n) / (n - 1) AS v
                    FROM agg),
            a AS (SELECT n AS n1, m AS m1, v AS v1 FROM per
                  WHERE l_returnflag = 'R'),
            b AS (SELECT n AS n2, m AS m2, v AS v2 FROM per
                  WHERE l_returnflag = 'A'),
            c AS (SELECT n1, n2, m1, m2,
                         v1 / n1 AS r1, v2 / n2 AS r2
                  FROM a, b)
            SELECT CAST(n1 AS BIGINT) AS n_ret,
                   CAST(n2 AS BIGINT) AS n_acc,
                   {floor_scaled_sql("(m1 - m2) / 100", 3, "mean_diff_milli")},
                   {floor_scaled_sql("(m1 - m2) / sqrt(r1 + r2)", 6,
                                     "t_stat_micro")},
                   {floor_scaled_sql(
                       "((r1 + r2) * (r1 + r2))"
                       " / (r1 * r1 / (n1 - 1) + r2 * r2 / (n2 - 1))", 3,
                       "welch_dof_milli")}
            FROM c""",
        "q_ppjoin": f"""
            WITH {_JACCARD_CTE}
            SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5""",
        "q_multimodal_rms": """
            WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
                              octet_length(CAST(text AS BLOB)) AS nb
                       FROM documents),
            s AS (SELECT doc_id,
                         list_transform(range(0, nb // 2),
                             i -> CAST(('0x' || substr(h, 4*i + 3, 2)
                                             || substr(h, 4*i + 1, 2))
                                       AS BIGINT)) AS samples
                  FROM p),
            fr AS (SELECT doc_id, (i // 256) AS frame_id, v
                   FROM (SELECT doc_id,
                                generate_subscripts(samples, 1) - 1 AS i,
                                unnest(samples) AS v
                         FROM s))
            SELECT doc_id, CAST(frame_id AS INTEGER) AS frame_id,
                   CAST(COUNT(*) AS INTEGER) AS n_samples,
                   CAST(floor(sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*))
                              * 1000 + 0.5) AS BIGINT) AS rms_e3
            FROM fr GROUP BY doc_id, frame_id""",
        "q_containment": f"""
            WITH {_SHINGLE_CTE},
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END
                       AS doc_inner,
                   CASE WHEN sa.sz <= sb.sz THEN doc_b ELSE doc_a END
                       AS doc_outer,
                   CAST(floor((CAST(inter AS DOUBLE) / least(sa.sz, sb.sz))
                              * 1000000000.0) AS BIGINT) AS containment_ppb
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) >= 0.8""",
        "q_bpe_pairs": """
            WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
                          FROM documents),
            pairs AS (
              SELECT unnest(list_transform(range(1, length(w)),
                         i -> substr(w, i, 2))) AS pair
              FROM toks WHERE length(w) >= 2)
            SELECT pair, COUNT(*) AS cnt,
                   CAST(row_number() OVER (ORDER BY COUNT(*) DESC, pair)
                        AS INTEGER) AS rnk
            FROM pairs GROUP BY pair
            QUALIFY rnk <= 20""",
        "q_copurchase": """
            WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
                           FROM lineitem),
            pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                             COUNT(*) AS n_ab
                      FROM items a JOIN items b USING (l_orderkey)
                      WHERE a.l_partkey < b.l_partkey
                      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
            pp AS (SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY 1),
            t AS (SELECT COUNT(*) AS n_orders FROM orders)
            SELECT part_a, part_b, n_ab,
                   CAST(floor(CAST(n_ab AS DOUBLE) * 1000000
                              / CAST(n_orders AS DOUBLE) + 0.5) AS BIGINT)
                       AS support_ppm,
                   CAST(floor(CAST(n_ab AS DOUBLE) * 1000000
                              / CAST(pa.n AS DOUBLE) + 0.5) AS BIGINT)
                       AS conf_ab_ppm,
                   CAST(floor(CAST(n_ab * n_orders AS DOUBLE) * 1000000
                              / CAST(pa.n * pb.n AS DOUBLE) + 0.5)
                        AS BIGINT) AS lift_ppm
            FROM pairs
            JOIN pp pa ON pa.l_partkey = part_a
            JOIN pp pb ON pb.l_partkey = part_b, t""",
        "q_grouped_linreg": """
            WITH r AS (SELECT l_returnflag,
                              CAST(round(l_quantity) AS BIGINT) AS q,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                  AS pc
                       FROM lineitem),
            g AS (SELECT l_returnflag, COUNT(*) AS n,
                         CAST(SUM(q) AS DOUBLE) AS sx,
                         CAST(SUM(q * q) AS DOUBLE) AS sxx,
                         CAST(SUM(pc) AS DOUBLE) AS sy,
                         CAST(SUM(q * pc) AS DOUBLE) AS sxy
                  FROM r GROUP BY 1),
            d AS (SELECT l_returnflag, n, sx, sy,
                         (sxy - sx * sy / n) / (sxx - sx * sx / n)
                             AS slope_c
                  FROM g)
            SELECT l_returnflag,
                   CAST(floor(slope_c * 10000.0) AS BIGINT) AS slope_micro,
                   CAST(floor((sy / n - slope_c * (sx / n)) * 10.0)
                        AS BIGINT) AS intercept_milli,
                   CAST(n AS BIGINT) AS n
            FROM d""",
        "q_degree_dist": """
            WITH e AS (
              SELECT DISTINCT
                     least(o_custkey % 500, o_orderkey % 700) AS lo,
                     greatest(o_custkey % 500, o_orderkey % 700) AS hi
              FROM orders
              WHERE least(o_custkey % 500, o_orderkey % 700)
                    < greatest(o_custkey % 500, o_orderkey % 700)),
            deg AS (SELECT v, COUNT(*) AS degree
                    FROM (SELECT unnest([lo, hi]) AS v FROM e) GROUP BY 1)
            SELECT degree, COUNT(*) AS n_vertices FROM deg GROUP BY 1""",
        "q_variant": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER))
                        AS BIGINT) AS sum_k,
                   CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER))
                        AS INTEGER) AS max_k
            FROM events GROUP BY 1""",
        "q_collation": """
            SELECT lower(CASE WHEN c_custkey % 2 = 0
                              THEN c_mktsegment ELSE c_mktsegment END)
                       AS segment,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_bal
            FROM customer GROUP BY 1""",
        "q_bm25": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
                   GROUP BY 1, 2),
            dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
            corpus AS (SELECT COUNT(*) AS n_docs,
                              CAST(SUM(len(ws)) AS BIGINT) AS total_len
                       FROM w),
            dl AS (SELECT doc_id, len(ws) AS dl FROM w),
            q AS (SELECT word, df FROM (
                    SELECT word, df,
                           row_number() OVER (ORDER BY df DESC, word) AS rn
                    FROM dfreq) WHERE rn <= 3),
            terms AS (
              SELECT tf.doc_id,
                     CAST(floor(
                       ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                       * (tf.tf * (1.2 + 1.0))
                       / (tf.tf + 1.2 * (1.0 - 0.75
                            + 0.75 * dl.dl
                              / (CAST(total_len AS DOUBLE) / n_docs)))
                       * 1e9 + 0.5) AS BIGINT) AS term_e9
              FROM tf JOIN q USING (word) JOIN dl USING (doc_id), corpus)
            SELECT doc_id, CAST(SUM(term_e9) AS BIGINT) AS bm25_e9,
                   CAST(COUNT(*) AS INTEGER) AS n_matched
            FROM terms GROUP BY doc_id""",
        "q_rrf_fusion": """
            WITH cos AS (
              SELECT vec_id,
                     CAST(row_number() OVER (
                         ORDER BY list_cosine_similarity(
                             embedding::DOUBLE[],
                             (SELECT embedding::DOUBLE[] FROM embeddings
                              WHERE vec_id = 0)) DESC, vec_id)
                          AS INTEGER) AS r_cos
              FROM embeddings WHERE vec_id <> 0),
            v AS (SELECT vec_id,
                         CAST(generate_subscripts(embedding, 1) AS INT)
                             AS pos,
                         CAST(unnest(embedding) AS DOUBLE) AS x
                  FROM embeddings),
            s AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM v
                  GROUP BY pos),
            c AS (SELECT vec_id, v.pos,
                         CASE WHEN mx > mn
                              THEN CAST(floor((x - mn) * 255.0 / (mx - mn)
                                              + 0.5) AS BIGINT)
                              ELSE 0 END AS code
                  FROM v JOIN s ON v.pos = s.pos),
            qc AS (SELECT pos, code AS qcode FROM c WHERE vec_id = 0),
            sq8 AS (
              SELECT vec_id,
                     CAST(row_number() OVER (
                         ORDER BY SUM(c.code * qc.qcode) DESC, vec_id)
                          AS INTEGER) AS r_sq8
              FROM c JOIN qc ON c.pos = qc.pos
              WHERE c.vec_id <> 0 GROUP BY c.vec_id),
            f AS (SELECT vec_id, r_cos, r_sq8,
                         1.0 / (60.0 + r_cos) + 1.0 / (60.0 + r_sq8)
                             AS rrf
                  FROM cos JOIN sq8 USING (vec_id))
            SELECT vec_id, r_cos, r_sq8,
                   CAST(floor(rrf * 1000000000.0) AS BIGINT) AS rrf_ppb,
                   CAST(row_number() OVER (ORDER BY rrf DESC, vec_id)
                        AS INTEGER) AS rnk
            FROM f QUALIFY rnk <= 20""",
        "q_ewma": """
            WITH per AS (
              SELECT user_id,
                     list_transform(
                         list_sort(list({'ts': ts, 'e': event_id,
                                         'v': value})),
                         s -> s.v) AS vals
              FROM events GROUP BY user_id)
            SELECT user_id,
                   CAST(len(vals) AS INTEGER) AS n,
                   CAST(floor(list_reduce(vals,
                            (acc, x) -> 0.3 * x + 0.7 * acc)
                        * 1000000.0) AS BIGINT) AS ewma_micro
            FROM per""",
        "q_cumulative_distinct": """
            WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
                        FROM events GROUP BY user_id),
            daily AS (SELECT d0, COUNT(*) AS new_users FROM fs GROUP BY d0)
            SELECT CAST(d0 - DATE '1970-01-01' AS INTEGER) AS epoch_day,
                   new_users,
                   CAST(SUM(new_users) OVER (ORDER BY d0
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
            FROM daily""",
        "q_haversine": """
            WITH s AS (
              SELECT c_custkey,
                     CAST((c_custkey % 120) - 60 + 0.25 AS DOUBLE) AS lat,
                     CAST(((c_custkey * 7) % 360) - 180 + 0.25 AS DOUBLE)
                         AS lon
              FROM customer),
            d AS (
              SELECT c_custkey,
                     2.0 * 6371.0 * asin(sqrt(
                         sin(radians(lat - 41.6) / 2)
                           * sin(radians(lat - 41.6) / 2)
                         + cos(radians(41.6)) * cos(radians(lat))
                           * sin(radians(lon - (-93.6)) / 2)
                           * sin(radians(lon - (-93.6)) / 2))) AS dist_km
              FROM s)
            SELECT c_custkey,
                   CAST(floor(dist_km * 1000 + 0.5) AS BIGINT) AS dist_m,
                   CAST(row_number() OVER (
                       ORDER BY CAST(floor(dist_km * 1000 + 0.5) AS BIGINT),
                                c_custkey) AS INTEGER) AS rnk
            FROM d QUALIFY rnk <= 20""",
        "q_cogroup": """
            WITH o AS (SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
                              CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                            AS BIGINT)) AS BIGINT)
                                  AS total_cents
                       FROM orders GROUP BY 1),
            c AS (SELECT c_custkey AS custkey,
                         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                             AS bal_cents
                  FROM customer)
            SELECT COALESCE(o.custkey, c.custkey) AS custkey,
                   COALESCE(o.n_orders, 0) AS n_orders,
                   COALESCE(o.total_cents, 0) AS total_cents,
                   COALESCE(c.bal_cents, 0) AS bal_cents
            FROM o FULL JOIN c ON o.custkey = c.custkey""",
        "q_nullsafe_join": """
            WITH o AS (SELECT nullif(o_orderstatus, 'O') AS status_b
                       FROM orders),
            dim AS (SELECT nullif(o_orderstatus, 'O') AS status_b,
                           COUNT(*) AS dim_n
                    FROM orders GROUP BY 1)
            SELECT o.status_b, COUNT(*) AS n, MAX(dim_n) AS dim_n
            FROM o JOIN dim ON o.status_b IS NOT DISTINCT FROM dim.status_b
            GROUP BY 1""",
        "q_from_json": """
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER))
                        AS BIGINT) AS sum_k
            FROM events GROUP BY 1, 2""",
        "q_pandas_udf": """
            SELECT vec_id,
                   CAST(list_sum(list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)
                                 * CAST(floor(x * 1048576.0 + 0.5)
                                        AS BIGINT)))
                        AS BIGINT) AS ssq_q20
            FROM embeddings""",
        "q_ngram_lm": """
            WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
            big AS (
              SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS c12
              FROM (SELECT unnest(list_transform(range(1, len(ws)),
                               i -> {'w1': ws[i], 'w2': ws[i+1]})) AS g
                    FROM w WHERE len(ws) >= 2)
              GROUP BY 1, 2),
            p AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS prefix_types
                  FROM big GROUP BY 1),
            s AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS suffix_types
                  FROM big GROUP BY 1)
            SELECT b.w1, b.w2, b.c12, p.prefix_types, s.suffix_types
            FROM big b JOIN p USING (w2) JOIN s USING (w1)
            WHERE b.c12 >= 5""",
        "q_spearman": f"""
            WITH r AS (SELECT l_returnflag,
                              CAST(round(l_quantity) AS BIGINT) AS q,
                              CAST(round(l_discount * 100) AS BIGINT) AS d
                       FROM lineitem),
            rk AS (SELECT l_returnflag,
                          2 * rank() OVER (PARTITION BY l_returnflag
                                           ORDER BY q)
                            + COUNT(*) OVER (PARTITION BY l_returnflag, q)
                            - 1 AS rx,
                          2 * rank() OVER (PARTITION BY l_returnflag
                                           ORDER BY d)
                            + COUNT(*) OVER (PARTITION BY l_returnflag, d)
                            - 1 AS ry
                   FROM r),
            a AS (SELECT l_returnflag, COUNT(*) AS n_rows,
                         SUM(rx) AS sx_, SUM(rx * rx) AS sxx_,
                         SUM(ry) AS sy_, SUM(ry * ry) AS syy_,
                         SUM(rx * ry) AS sxy_
                  FROM rk GROUP BY 1),
            g AS (SELECT l_returnflag, n_rows,
                         CAST(n_rows AS DOUBLE) AS n,
                         {det_double_sql("sx_")} AS sx,
                         {det_double_sql("sxx_")} AS sxx,
                         {det_double_sql("sy_")} AS sy,
                         {det_double_sql("syy_")} AS syy,
                         {det_double_sql("sxy_")} AS sxy
                  FROM a),
            e AS (SELECT l_returnflag, n_rows,
                         (sxy - sx * sy / n)
                           / (sqrt(sxx - sx * sx / n)
                              * sqrt(syy - sy * sy / n)) AS rho
                  FROM g)
            SELECT l_returnflag, CAST(n_rows AS BIGINT) AS n_rows,
                   {floor_scaled_sql("rho", 9, "spearman_ppb")}
            FROM e""",
        "q_anova": f"""
            WITH r AS (SELECT o_orderpriority,
                              CAST(round(o_totalprice * 100) AS BIGINT)
                                  AS pc
                       FROM orders),
            per AS (SELECT o_orderpriority, COUNT(*) AS ng,
                           SUM(pc) AS s_, SUM(pc * pc) AS ss_
                    FROM r GROUP BY 1),
            q AS (SELECT ng, s_, ss_,
                         CAST(floor({det_double_sql("s_")}
                                    * {det_double_sql("s_")}
                                    / CAST(ng AS DOUBLE)
                                    / 10000000000.0) AS BIGINT) AS t_kd2
                  FROM per),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                           CAST(SUM(ng) AS BIGINT) AS n_total,
                           SUM(t_kd2) AS a_,
                           SUM(s_) AS gs_, SUM(ss_) AS gss_
                    FROM q),
            fin AS (SELECT k_groups, n_total,
                           {det_double_sql("a_")} AS a,
                           CAST(floor({det_double_sql("gs_")}
                                      * {det_double_sql("gs_")}
                                      / CAST(n_total AS DOUBLE)
                                      / 10000000000.0) AS DOUBLE) AS g,
                           CAST(floor({det_double_sql("gss_")}
                                      / 10000000000.0) AS DOUBLE) AS t
                    FROM tot),
            e AS (SELECT k_groups, n_total,
                         a - g AS ssb, t - a AS ssw, t - g AS sst
                  FROM fin)
            SELECT k_groups, n_total,
                   CAST(ssb AS BIGINT) AS ssb_kd2,
                   CAST(ssw AS BIGINT) AS ssw_kd2,
                   {floor_scaled_sql(
                       "(ssb / CAST(k_groups - 1 AS DOUBLE))"
                       " / (ssw / CAST(n_total - k_groups AS DOUBLE))",
                       6, "f_micro")},
                   {floor_scaled_sql("ssb / sst", 9, "eta2_ppb")}
            FROM e""",
        "q_ccf": f"""
            WITH span AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                                 MAX(CAST(o_orderdate AS DATE)) AS d1
                          FROM orders),
            spine AS (SELECT CAST(unnest(generate_series(
                          d0, d1, INTERVAL 1 DAY)) AS DATE) AS day, d1
                      FROM span),
            oc AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS x
                   FROM orders GROUP BY 1),
            lc AS (SELECT CAST(l_shipdate AS DATE) AS yday, COUNT(*) AS y
                   FROM lineitem GROUP BY 1),
            lags AS (SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS lag),
            grid AS (SELECT s.day, l.lag, s.d1
                     FROM spine s CROSS JOIN lags l
                     WHERE s.day + l.lag * INTERVAL 1 DAY <= s.d1),
            j AS (SELECT g.lag,
                         COALESCE(oc.x, 0) AS x,
                         COALESCE(lc.y, 0) AS y
                  FROM grid g
                  LEFT JOIN oc ON g.day = oc.day
                  LEFT JOIN lc
                    ON g.day + g.lag * INTERVAL 1 DAY = lc.yday),
            a AS (SELECT lag, COUNT(*) AS n_days,
                         SUM(x) AS sx_, SUM(x * x) AS sxx_,
                         SUM(y) AS sy_, SUM(y * y) AS syy_,
                         SUM(x * y) AS sxy_
                  FROM j GROUP BY 1),
            g2 AS (SELECT lag, n_days, CAST(n_days AS DOUBLE) AS n,
                          {det_double_sql("sx_")} AS sx,
                          {det_double_sql("sxx_")} AS sxx,
                          {det_double_sql("sy_")} AS sy,
                          {det_double_sql("syy_")} AS syy,
                          {det_double_sql("sxy_")} AS sxy
                   FROM a),
            e AS (SELECT lag, n_days,
                         (sxy - sx * sy / n)
                           / (sqrt(sxx - sx * sx / n)
                              * sqrt(syy - sy * sy / n)) AS rho
                  FROM g2)
            SELECT lag, CAST(n_days AS BIGINT) AS n_days,
                   {floor_scaled_sql("rho", 9, "ccf_ppb")}
            FROM e""",
        "q_ann_range": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id < 16
            ),
            assigned AS (
              SELECT vec_id, embedding, cid AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.cid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1
            ),
            q AS (SELECT embedding AS q_vec FROM embeddings
                  WHERE vec_id = 0),
            probes AS (
              SELECT cid FROM (
                SELECT c.cid,
                       row_number() OVER (
                           ORDER BY list_cosine_similarity(
                                        q.q_vec::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.cid) AS prnk
                FROM cent c, q)
              WHERE prnk <= 2)
            SELECT a.vec_id,
                   CAST(floor(list_cosine_similarity(
                       a.embedding::DOUBLE[], q.q_vec::DOUBLE[]) * 1000000)
                       AS BIGINT) AS cos_e6
            FROM assigned a, q
            WHERE a.cell IN (SELECT cid FROM probes)
              AND a.vec_id <> 0
              AND list_cosine_similarity(a.embedding::DOUBLE[],
                                         q.q_vec::DOUBLE[]) >= 0.2""",
        "q_image_dhash": """
            WITH base AS (SELECT doc_id,
                            rpad(regexp_replace(text, '[^\\x20-\\x7E]',
                                                '', 'g'),
                                 384, 'x') AS s
                          FROM documents),
            assets AS (
              SELECT doc_id * 2 AS aid, s FROM base
              UNION ALL
              SELECT doc_id * 2 + 1 AS aid,
                     substr(s, 1, 4) || 'z' || substr(s, 6) AS s
              FROM base),
            g AS (SELECT aid, r, c,
                    (ascii(substr(s, (r*16+c)*3+1, 1))
                     + ascii(substr(s, (r*16+c)*3+2, 1))
                     + ascii(substr(s, (r*16+c)*3+3, 1))) // 3 AS gray
                  FROM assets, range(0,8) t1(r), range(0,16) t2(c)),
            pooled AS (SELECT aid, r, c // 2 AS pc, SUM(gray) // 2 AS pg
                       FROM g GROUP BY aid, r, c // 2),
            hv AS (SELECT a.aid,
                     SUM(CASE WHEN a.pg > b.pg
                         THEN (1::BIGINT << (a.r*7 + a.pc))
                         ELSE 0 END) AS dhash
                   FROM pooled a JOIN pooled b
                     ON a.aid = b.aid AND a.r = b.r AND b.pc = a.pc + 1
                   GROUP BY a.aid)
            SELECT x.aid AS doc_a, y.aid AS doc_b,
                   CAST(bit_count(xor(x.dhash, y.dhash)) AS INTEGER)
                       AS hamming
            FROM hv x JOIN hv y ON x.aid < y.aid
            WHERE bit_count(xor(x.dhash, y.dhash)) <= 3""",
        # q_ppm_zlib_decode: the oracle never sees the zlib container —
        # it computes the 56-bit dHash straight from the text (same
        # arithmetic as the q_image_dhash oracle, per-doc, no twins), so
        # a hash match proves the Spark-side deflate/inflate round-trip
        # reproduced every pixel byte.
        "q_ppm_zlib_decode": """
            WITH base AS (SELECT doc_id,
                            rpad(regexp_replace(text, '[^\\x20-\\x7E]',
                                                '', 'g'),
                                 384, 'x') AS s
                          FROM documents),
            g AS (SELECT doc_id, r, c,
                    (ascii(substr(s, (r*16+c)*3+1, 1))
                     + ascii(substr(s, (r*16+c)*3+2, 1))
                     + ascii(substr(s, (r*16+c)*3+3, 1))) // 3 AS gray
                  FROM base, range(0,8) t1(r), range(0,16) t2(c)),
            pooled AS (SELECT doc_id, r, c // 2 AS pc, SUM(gray) // 2 AS pg
                       FROM g GROUP BY doc_id, r, c // 2)
            SELECT a.doc_id,
                   CAST(SUM(CASE WHEN a.pg > b.pg
                       THEN (1::BIGINT << (a.r*7 + a.pc))
                       ELSE 0 END) AS BIGINT) AS dhash
            FROM pooled a JOIN pooled b
              ON a.doc_id = b.doc_id AND a.r = b.r AND b.pc = a.pc + 1
            GROUP BY a.doc_id""",
        "q_bh_fdr": """
            WITH c AS (SELECT user_id, COUNT(*) AS n
                       FROM events GROUP BY user_id),
            stats AS (SELECT COUNT(*) AS m, SUM(n) AS tot,
                             SUM(n * n) AS tot2
                      FROM c),
            hyp AS (
              SELECT user_id,
                     CASE WHEN n * m - tot = 0 THEN 1000000
                          ELSE least(1000000, CAST(
                            (CAST(m AS HUGEINT) * tot2
                             - CAST(tot AS HUGEINT) * tot) * 1000000
                            // ((CAST(n AS HUGEINT) * m - tot)
                                * (CAST(n AS HUGEINT) * m - tot))
                            AS BIGINT)) END AS p_ppm
              FROM c, stats),
            ranked AS (
              SELECT user_id AS id, p_ppm,
                     row_number() OVER (ORDER BY p_ppm, user_id) AS rnk,
                     COUNT(*) OVER () AS m2
              FROM hyp),
            cut AS (SELECT MAX(CASE WHEN p_ppm * m2 <= rnk * 100000
                                    THEN rnk ELSE 0 END) AS k
                    FROM ranked)
            SELECT id, p_ppm, rnk, rnk <= k AS reject
            FROM ranked, cut""",
        "q_leakage_split": f"""
            WITH RECURSIVE {_JACCARD_CTE},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b AS a, doc_a AS b FROM pairs),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (SELECT a AS node, least(a, MIN(b)) AS component
                     FROM reach GROUP BY a)
            SELECT doc_id, cluster_id,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT d.doc_id,
                         COALESCE(c.component, d.doc_id) AS cluster_id,
                         CAST(('0x' || substr(md5('split' ||
                              CAST(COALESCE(c.component, d.doc_id)
                                   AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 10000 AS b
                  FROM documents d
                  LEFT JOIN comp c ON d.doc_id = c.node)""",
        "q_token_budget": """
            WITH d AS (SELECT doc_id,
                              len(string_split(text, ' ')) AS q,
                              n_chars // 4 AS tok
                       FROM documents),
            c AS (SELECT doc_id, q, tok,
                         SUM(tok) OVER (ORDER BY q DESC, doc_id) AS cum
                  FROM d)
            SELECT doc_id, CAST(q AS BIGINT) AS quality,
                   CAST(tok AS BIGINT) AS tokens
            FROM c WHERE cum <= 20000""",
        "q_canonical_dedup": _canonical_dedup_oracle(),
        "q_join_delta": """
            WITH li AS (SELECT l_orderkey AS o_orderkey, l_linenumber,
                               l_suppkey
                        FROM lineitem),
            bo AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
            bl AS (SELECT * FROM li WHERE l_suppkey % 7 < 5),
            newc AS (
              SELECT o.o_orderkey, li.l_linenumber, o.o_custkey,
                     li.l_suppkey, COUNT(*) AS n
              FROM orders o JOIN li ON o.o_orderkey = li.o_orderkey
              GROUP BY 1, 2, 3, 4),
            oldc AS (
              SELECT bo.o_orderkey, bl.l_linenumber, bo.o_custkey,
                     bl.l_suppkey, COUNT(*) AS n
              FROM bo JOIN bl ON bo.o_orderkey = bl.o_orderkey
              GROUP BY 1, 2, 3, 4)
            SELECT newc.o_orderkey, newc.l_linenumber, newc.o_custkey,
                   newc.l_suppkey,
                   newc.n - COALESCE(oldc.n, 0) AS n_rows
            FROM newc LEFT JOIN oldc
              USING (o_orderkey, l_linenumber, o_custkey, l_suppkey)
            WHERE newc.n - COALESCE(oldc.n, 0) > 0""",
        # The prebuilt index is a bit-identical materialization of the
        # in-query IVF quantizer, so the oracle is the same coarse-
        # assign/probe/scan SQL as q_ann_ivf — at nprobe=2, query 7.
        "q_ann_prebuilt": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id < 16
            ),
            assigned AS (
              SELECT vec_id, embedding, cid AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.cid) AS rn
                FROM embeddings e CROSS JOIN cent c)
              WHERE rn = 1
            ),
            q AS (SELECT embedding AS q_vec FROM embeddings
                  WHERE vec_id = 7),
            probes AS (
              SELECT cid AS p_cell FROM (
                SELECT c.cid,
                       row_number() OVER (
                           ORDER BY list_cosine_similarity(
                                        q.q_vec::DOUBLE[],
                                        c.cvec::DOUBLE[]) DESC,
                                    c.cid) AS prnk
                FROM cent c, q)
              WHERE prnk <= 2
            )
            SELECT vec_id,
                   CAST(row_number() OVER (
                       ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                                       q_vec::DOUBLE[])
                       DESC, vec_id) AS INTEGER) AS rnk
            FROM assigned, q
            WHERE cell IN (SELECT p_cell FROM probes) AND vec_id <> 7
            QUALIFY rnk <= 10""",
        "q_ann_assign_delta": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id < 16
            )
            SELECT vec_id, cell FROM (
              SELECT e.vec_id, c.cid AS cell,
                     row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(
                                      e.embedding::DOUBLE[],
                                      c.cvec::DOUBLE[]) DESC,
                                  c.cid) AS rn
              FROM embeddings e CROSS JOIN cent c
              WHERE e.vec_id % 7 = 3 AND e.vec_id >= 16)
            WHERE rn = 1""",
        "q_zipf_slope": """
            WITH t AS (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents),
            f AS (SELECT word, COUNT(*) AS freq FROM t GROUP BY word),
            top AS (SELECT word, freq FROM f
                    ORDER BY freq DESC, word LIMIT 100),
            xy AS (SELECT
                     CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6 + 0.5)
                          AS HUGEINT) AS x,
                     CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5)
                          AS HUGEINT) AS y
                   FROM (SELECT freq,
                                row_number() OVER (
                                    ORDER BY freq DESC, word) AS rnk
                         FROM top)),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         SUM(x) AS sx, SUM(y) AS sy,
                         SUM(x*y) AS sxy, SUM(x*x) AS sxx
                  FROM xy)
            SELECT CAST(n AS BIGINT) AS n_terms,
                   CAST((n*sxy - sx*sy) * 1000000
                        // (n*sxx - sx*sx) AS BIGINT) AS slope_ppm,
                   CAST((sy*(n*sxx - sx*sx) - sx*(n*sxy - sx*sy))
                        // (n*(n*sxx - sx*sx)) AS BIGINT)
                     AS intercept_ppm
            FROM s""",
        "q_ngram_novelty": f"""
            WITH {_SHINGLE_CTE},
            first AS (SELECT shingle, MIN(doc_id) AS first_doc
                      FROM sh GROUP BY shingle)
            SELECT sh.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN sh.doc_id = first_doc
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                   CAST(SUM(CASE WHEN sh.doc_id = first_doc
                                 THEN 1 ELSE 0 END) * 1000000
                        // COUNT(*) AS BIGINT) AS novelty_ppm
            FROM sh JOIN first USING (shingle)
            GROUP BY sh.doc_id""",
        "q_spearman_global": """
            WITH d AS (SELECT l_quantity AS xv, l_extendedprice AS yv
                       FROM lineitem),
            cx AS (SELECT xv AS v, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM d GROUP BY 1),
            rx AS (SELECT v,
                          CAST(2*(SUM(cnt) OVER (ORDER BY v) - cnt)
                               + cnt + 1 AS HUGEINT) AS r2
                   FROM cx),
            cy AS (SELECT yv AS v, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM d GROUP BY 1),
            ry AS (SELECT v,
                          CAST(2*(SUM(cnt) OVER (ORDER BY v) - cnt)
                               + cnt + 1 AS HUGEINT) AS r2
                   FROM cy),
            j AS (SELECT rx.r2 AS x, ry.r2 AS y
                  FROM d JOIN rx ON d.xv = rx.v JOIN ry ON d.yv = ry.v),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                         SUM(x*x) AS sxx, SUM(y*y) AS syy
                  FROM j)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE)
                        / sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                        / sqrt(CAST(n*syy - sy*sy AS DOUBLE))
                        * 1e9) AS BIGINT) AS spearman_ppb
            FROM s""",
        "q_mann_whitney": """
            WITH d AS (SELECT n_chars AS v, lang AS g FROM documents
                       WHERE lang IN ('en', 'zh')),
            c AS (SELECT v,
                         CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END)
                              AS BIGINT) AS ca,
                         CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM d GROUP BY v),
            r AS (SELECT ca, cnt,
                         CAST(2*(SUM(cnt) OVER (ORDER BY v) - cnt)
                              + cnt + 1 AS HUGEINT) AS r2
                  FROM c),
            s AS (SELECT CAST(SUM(ca) AS HUGEINT) AS na,
                         CAST(SUM(cnt - ca) AS HUGEINT) AS nb,
                         SUM(CAST(ca AS HUGEINT) * r2) AS ra2,
                         SUM(CAST(cnt AS HUGEINT)*cnt*cnt - cnt) AS ties
                  FROM r)
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   CAST(ra2 - na*(na+1) AS BIGINT) AS u2_a,
                   CAST(floor(
                       CAST(ra2 - na*(na+1) - na*nb AS DOUBLE) / 2.0
                       / sqrt(CAST(na*nb*((na+nb+1)*(na+nb)*(na+nb-1)
                                          - ties) AS DOUBLE)
                              / CAST(12*(na+nb)*(na+nb-1) AS DOUBLE))
                       * 1e6) AS BIGINT) AS z_ppm
            FROM s""",
        "q_ks_drift": """
            WITH d AS (SELECT n_chars AS v, lang AS g FROM documents
                       WHERE lang IN ('en', 'es')),
            c AS (SELECT v,
                         CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END)
                              AS BIGINT) AS ca,
                         CAST(SUM(CASE WHEN g = 'en' THEN 0 ELSE 1 END)
                              AS BIGINT) AS cb
                  FROM d GROUP BY v),
            r AS (SELECT v,
                         SUM(ca) OVER (ORDER BY v) AS cuma,
                         SUM(ca + cb) OVER (ORDER BY v) AS cumt
                  FROM c),
            t AS (SELECT CAST(SUM(ca) AS HUGEINT) AS na,
                         CAST(SUM(cb) AS HUGEINT) AS nb
                  FROM c),
            diff AS (SELECT v, na, nb,
                            abs(CAST(cuma AS HUGEINT)*nb
                                - CAST(cumt - cuma AS HUGEINT)*na) AS dnum
                     FROM r, t),
            mx AS (SELECT na, nb, MAX(dnum) AS dmax
                   FROM diff GROUP BY na, nb),
            at AS (SELECT MIN(v) AS ks_at FROM diff, mx
                   WHERE dnum = dmax)
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   CAST((dmax * 1000000) // (na*nb) AS BIGINT) AS ks_ppm,
                   CAST(ks_at AS BIGINT) AS ks_at
            FROM mx, at""",
        "q_chi2_source_lang": """
            WITH obs AS (SELECT source AS r, lang AS c,
                                CAST(COUNT(*) AS HUGEINT) AS o
                         FROM documents GROUP BY 1, 2),
            rt AS (SELECT r, SUM(o) AS rtot FROM obs GROUP BY r),
            ct AS (SELECT c, SUM(o) AS ctot FROM obs GROUP BY c),
            s AS (SELECT CAST(SUM(o) AS HUGEINT) AS n,
                         SUM((o * o * CAST(1000000000000 AS HUGEINT))
                             // (rtot * ctot)) AS t,
                         CAST(COUNT(DISTINCT r) AS HUGEINT) AS nr,
                         CAST(COUNT(DISTINCT c) AS HUGEINT) AS nc
                  FROM obs JOIN rt USING (r) JOIN ct USING (c))
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(nr AS BIGINT) AS n_rows,
                   CAST(nc AS BIGINT) AS n_cols,
                   CAST((n*(t - 1000000000000)*1000000)
                        // 1000000000000 AS BIGINT) AS chi2_ppm,
                   CAST(floor(sqrt(
                       (CAST((n*(t - 1000000000000)*1000000)
                             // 1000000000000 AS DOUBLE) / 1e6)
                       / CAST(n * least(nr - 1, nc - 1) AS DOUBLE))
                       * 1e9) AS BIGINT) AS cramers_v_ppb
            FROM s""",
        "q_gini_chars": """
            WITH c AS (SELECT n_chars AS v,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM documents GROUP BY 1),
            r AS (SELECT CAST(v AS HUGEINT) AS v,
                         CAST(cnt AS HUGEINT) AS c,
                         CAST(SUM(cnt) OVER (ORDER BY v) - cnt
                              AS HUGEINT) AS p
                  FROM c),
            s AS (SELECT SUM(c) AS n, SUM(v*c) AS t,
                         SUM(v*(2*c*p + c*c + c)) AS s2
                  FROM r)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(t AS BIGINT) AS total,
                   CAST(((s2 - (n+1)*t) * 1000000) // (n*t) AS BIGINT)
                     AS gini_ppm
            FROM s""",
        "q_dup_rate_curve": """
            SELECT 1 AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
                   CAST(CASE WHEN COUNT(*) > 0
                        THEN ((COUNT(*) - COUNT(DISTINCT g)) * 1000000)
                             // COUNT(*) ELSE 0 END AS BIGINT) AS dup_ppm
            FROM (SELECT unnest(CASE WHEN len(ws) >= 1
                         THEN list_transform(range(1, len(ws) - 1 + 2),
                              i -> ws[i+0])
                         ELSE [] END) AS g
                  FROM (SELECT string_split(text, ' ') AS ws
                        FROM documents))
            UNION ALL
            SELECT 2 AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
                   CAST(CASE WHEN COUNT(*) > 0
                        THEN ((COUNT(*) - COUNT(DISTINCT g)) * 1000000)
                             // COUNT(*) ELSE 0 END AS BIGINT) AS dup_ppm
            FROM (SELECT unnest(CASE WHEN len(ws) >= 2
                         THEN list_transform(range(1, len(ws) - 2 + 2),
                              i -> ws[i+0] || ' ' || ws[i+1])
                         ELSE [] END) AS g
                  FROM (SELECT string_split(text, ' ') AS ws
                        FROM documents))
            UNION ALL
            SELECT 3 AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
                   CAST(CASE WHEN COUNT(*) > 0
                        THEN ((COUNT(*) - COUNT(DISTINCT g)) * 1000000)
                             // COUNT(*) ELSE 0 END AS BIGINT) AS dup_ppm
            FROM (SELECT unnest(CASE WHEN len(ws) >= 3
                         THEN list_transform(range(1, len(ws) - 3 + 2),
                              i -> ws[i+0] || ' ' || ws[i+1] || ' ' || ws[i+2])
                         ELSE [] END) AS g
                  FROM (SELECT string_split(text, ' ') AS ws
                        FROM documents))
            UNION ALL
            SELECT 5 AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
                   CAST(CASE WHEN COUNT(*) > 0
                        THEN ((COUNT(*) - COUNT(DISTINCT g)) * 1000000)
                             // COUNT(*) ELSE 0 END AS BIGINT) AS dup_ppm
            FROM (SELECT unnest(CASE WHEN len(ws) >= 5
                         THEN list_transform(range(1, len(ws) - 5 + 2),
                              i -> ws[i+0] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
                         ELSE [] END) AS g
                  FROM (SELECT string_split(text, ' ') AS ws
                        FROM documents))
            UNION ALL
            SELECT 8 AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
                   CAST(CASE WHEN COUNT(*) > 0
                        THEN ((COUNT(*) - COUNT(DISTINCT g)) * 1000000)
                             // COUNT(*) ELSE 0 END AS BIGINT) AS dup_ppm
            FROM (SELECT unnest(CASE WHEN len(ws) >= 8
                         THEN list_transform(range(1, len(ws) - 8 + 2),
                              i -> ws[i+0] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])
                         ELSE [] END) AS g
                  FROM (SELECT string_split(text, ' ') AS ws
                        FROM documents))""",
        "q_interleave_order": """
            WITH d AS (SELECT doc_id, source,
                              (doc_id * 2654435761) % 2147483648 AS h
                       FROM documents),
            r AS (SELECT doc_id, source,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY h, doc_id) AS pos,
                         dense_rank() OVER (ORDER BY source) - 1 AS sidx
                  FROM d),
            s AS (SELECT COUNT(DISTINCT source) AS ns FROM d)
            SELECT doc_id, source,
                   CAST(pos AS BIGINT) AS pos,
                   CAST((pos - 1) * ns + sidx AS BIGINT) AS order_key
            FROM r, s""",
        "q_kruskal_wallis": """
            WITH d AS (SELECT n_chars AS v, lang AS g FROM documents
                       WHERE lang IS NOT NULL),
            c AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM d GROUP BY v),
            r AS (SELECT v, cnt,
                         CAST(2*(SUM(cnt) OVER (ORDER BY v) - cnt)
                              + cnt + 1 AS HUGEINT) AS r2
                  FROM c),
            cvg AS (SELECT v, g, CAST(COUNT(*) AS BIGINT) AS cg
                    FROM d GROUP BY v, g),
            pg AS (SELECT g, CAST(SUM(cg) AS HUGEINT) AS ng,
                          SUM(CAST(cg AS HUGEINT) * r2) AS rg2
                   FROM cvg JOIN r USING (v) GROUP BY g),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(ng) AS n,
                         SUM((rg2*rg2*1000000) // ng) AS s6
                  FROM pg),
            t AS (SELECT SUM(CAST(cnt AS HUGEINT)*cnt*cnt - cnt) AS ties
                  FROM r)
            SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
                   CAST(floor(
                       (3.0 * CAST(s6 AS DOUBLE)
                        / (1e6 * CAST(n*(n+1) AS DOUBLE))
                        - 3.0 * CAST(n+1 AS DOUBLE))
                       * (CAST(n*n*n - n AS DOUBLE)
                          / CAST((n*n*n - n) - ties AS DOUBLE))
                       * 1e6) AS BIGINT) AS h_ppm
            FROM s, t""",
        "q_anova_f": """
            WITH g AS (SELECT lang,
                              CAST(COUNT(*) AS HUGEINT) AS ng,
                              CAST(SUM(n_chars) AS HUGEINT) AS sg,
                              SUM(CAST(n_chars AS HUGEINT) * n_chars) AS qg
                       FROM documents GROUP BY lang),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(ng) AS n,
                         SUM(sg) AS stot, SUM(qg) AS qtot,
                         SUM((sg*sg*1000000) // ng) AS t6
                  FROM g)
            SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
                   CAST(floor(
                       ((CAST(t6 AS DOUBLE)/1e6
                         - CAST(stot*stot AS DOUBLE)/CAST(n AS DOUBLE))
                        / CAST(k-1 AS DOUBLE))
                       / ((CAST(qtot AS DOUBLE)
                           - CAST(t6 AS DOUBLE)/1e6)
                          / CAST(n-k AS DOUBLE))
                       * 1e6) AS BIGINT) AS f_ppm
            FROM s""",
        "q_levene": """
            WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x, lang AS g
                       FROM documents),
            m AS (SELECT g, CAST(median(x) * 2 AS BIGINT) AS m2
                  FROM d GROUP BY g),
            z AS (SELECT d.g AS g, abs(2*x - m2) AS z2
                  FROM d JOIN m USING (g)),
            gg AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
                          CAST(SUM(z2) AS HUGEINT) AS sg,
                          SUM(CAST(z2 AS HUGEINT) * z2) AS qg
                   FROM z GROUP BY g),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(ng) AS n,
                         SUM(sg) AS stot, SUM(qg) AS qtot,
                         SUM((sg*sg*1000000) // ng) AS t6
                  FROM gg)
            SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
                   CAST(floor(
                       ((CAST(t6 AS DOUBLE)/1e6
                         - CAST(stot*stot AS DOUBLE)/CAST(n AS DOUBLE))
                        / CAST(k-1 AS DOUBLE))
                       / ((CAST(qtot AS DOUBLE)
                           - CAST(t6 AS DOUBLE)/1e6)
                          / CAST(n-k AS DOUBLE))
                       * 1e6) AS BIGINT) AS f_ppm
            FROM s""",
        "q_silhouette": """
            WITH q AS (SELECT vec_id, label AS own,
                              CAST(generate_subscripts(embedding, 1) - 1
                                   AS INT) AS pos,
                              CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                                         * 1e6 + 0.5) AS HUGEINT) AS x_e6
                       FROM embeddings),
            cent AS (SELECT own AS clabel, pos, SUM(x_e6) AS s,
                            CAST(COUNT(*) AS HUGEINT) AS cn
                     FROM q GROUP BY own, pos),
            num AS (SELECT vec_id, own, clabel,
                           SUM((cn*x_e6 - s)*(cn*x_e6 - s)) AS num,
                           ANY_VALUE(cn) AS cn
                    FROM q JOIN cent USING (pos)
                    GROUP BY vec_id, own, clabel),
            d AS (SELECT vec_id, own, clabel,
                         CAST(num AS DOUBLE)/CAST(cn*cn AS DOUBLE) AS dist
                  FROM num),
            pp AS (SELECT vec_id, own,
                          MAX(CASE WHEN clabel = own THEN dist END) AS a,
                          MIN(CASE WHEN clabel <> own THEN dist END) AS b
                   FROM d GROUP BY vec_id, own),
            sil AS (SELECT own,
                           CASE WHEN greatest(a, b) > 0
                                THEN CAST(floor((b - a) * 1e6
                                          / greatest(a, b)) AS BIGINT)
                                ELSE 0 END AS sil_ppm
                    FROM pp)
            SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
                   CAST(SUM(sil_ppm) // COUNT(*) AS BIGINT)
                     AS mean_sil_ppm
            FROM sil GROUP BY own""",
        "q_readability": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 x -> x <> '') AS ws,
                     greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS ns
              FROM documents),
            c AS (
              SELECT doc_id,
                     greatest(1, len(ws)) AS nw,
                     ns,
                     coalesce(list_sum(list_transform(ws,
                         x -> greatest(1, len(regexp_extract_all(
                                  lower(x), '[aeiouy]+'))))), 0) AS ny
              FROM w)
            SELECT doc_id,
                   CAST(nw AS BIGINT) AS n_words,
                   CAST(ns AS BIGINT) AS n_sentences,
                   CAST(ny AS BIGINT) AS n_syllables,
                   CAST((206835 * CAST(ns AS HUGEINT) * nw
                         - 1015 * CAST(nw AS HUGEINT) * nw
                         - 84600 * CAST(ny AS HUGEINT) * ns)
                        // (CAST(ns AS HUGEINT) * nw) AS BIGINT)
                     AS flesch_milli
            FROM c""",
        "q_rake_keywords": f"""
            WITH segs AS (
              SELECT unnest(string_split_regex(lower(text),
                  '{_RAKE_DELIM}')) AS seg
              FROM documents),
            ph2 AS (
              SELECT array_to_string(pw, ' ') AS phrase, pw, len(pw) AS plen
              FROM (SELECT list_filter(string_split(trim(seg), ' '),
                                       x -> x <> '') AS pw
                    FROM segs)
              WHERE len(pw) >= 1 AND len(pw) <= 4),
            wsc AS (
              SELECT word,
                     CAST((CAST(SUM(plen) AS HUGEINT) * 1000)
                          // COUNT(*) AS BIGINT) AS wscore
              FROM (SELECT unnest(pw) AS word, plen FROM ph2)
              GROUP BY word),
            pcnt AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
                     FROM ph2 GROUP BY phrase),
            psc AS (
              SELECT phrase, CAST(SUM(wscore) AS BIGINT) AS score_milli
              FROM (SELECT phrase, unnest(pw) AS word
                    FROM (SELECT DISTINCT phrase, pw FROM ph2)) t
              JOIN wsc USING (word)
              GROUP BY phrase)
            SELECT pcnt.phrase, n_occurrences, score_milli
            FROM pcnt JOIN psc USING (phrase)
            ORDER BY score_milli DESC, phrase
            LIMIT 50""",
        "q_jsd_drift": """
            WITH terms AS (
              SELECT source AS grp,
                     unnest(list_filter(string_split_regex(trim(text), ' +'),
                                        x -> x <> '')) AS term
              FROM documents),
            gt AS (SELECT grp, term, COUNT(*) AS n_gt
                   FROM terms GROUP BY 1, 2),
            t AS (SELECT term, SUM(n_gt) AS n_t FROM gt GROUP BY 1),
            g AS (SELECT grp, SUM(n_gt) AS tot_g FROM gt GROUP BY 1),
            tot AS (SELECT COUNT(*) AS v, SUM(n_t) AS tot_all FROM t),
            grid AS (
              SELECT g.grp, g.tot_g, t.n_t,
                     coalesce(gt.n_gt, 0) AS n_gt, tot.v, tot.tot_all
              FROM t CROSS JOIN g
              LEFT JOIN gt ON gt.term = t.term AND gt.grp = g.grp
              CROSS JOIN tot),
            c AS (
              SELECT grp, tot_g,
                     CAST(round(0.5e9 * (
                        (CAST(n_gt + 1 AS DOUBLE) / (tot_g + v))
                          * ln((CAST(n_gt + 1 AS DOUBLE) / (tot_g + v))
                               / (((CAST(n_gt + 1 AS DOUBLE) / (tot_g + v))
                                   + (CAST(n_t + 1 AS DOUBLE)
                                      / (tot_all + v))) / 2))
                      + (CAST(n_t + 1 AS DOUBLE) / (tot_all + v))
                          * ln((CAST(n_t + 1 AS DOUBLE) / (tot_all + v))
                               / (((CAST(n_gt + 1 AS DOUBLE) / (tot_g + v))
                                   + (CAST(n_t + 1 AS DOUBLE)
                                      / (tot_all + v))) / 2))
                     )) AS BIGINT) AS contrib
              FROM grid)
            SELECT grp AS source,
                   CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(ANY_VALUE(tot_g) AS BIGINT) AS tot_group,
                   CAST(SUM(contrib) AS BIGINT) AS jsd_e9
            FROM c GROUP BY grp""",
        "q_friedman": """
            WITH cells AS (
              SELECT source AS blk, lang AS trt, SUM(n_chars) AS v
              FROM documents GROUP BY 1, 2),
            kk AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
            complete AS (SELECT blk FROM cells GROUP BY blk
                         HAVING COUNT(*) = (SELECT k FROM kk)),
            cc AS (SELECT cells.blk, cells.trt, cells.v
                   FROM cells JOIN complete USING (blk)),
            vc AS (SELECT blk, v, COUNT(*) AS cnt FROM cc GROUP BY 1, 2),
            r2 AS (SELECT blk, v,
                          CAST(2*(SUM(cnt) OVER (PARTITION BY blk
                                                 ORDER BY v) - cnt)
                               + cnt + 1 AS HUGEINT) AS r2
                   FROM vc),
            ranked AS (SELECT cc.trt, r2.r2
                       FROM cc JOIN r2 USING (blk, v)),
            pt AS (SELECT trt, SUM(r2) AS r2_sum FROM ranked GROUP BY trt),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) // (SELECT k FROM kk)
                           AS n,
                         CAST((SELECT k FROM kk) AS HUGEINT) AS k,
                         SUM(r2*r2) AS ssq
                  FROM ranked),
            f AS (SELECT s.n, s.k, s.ssq,
                         SUM((pt.r2_sum - s.n*(s.k+1))
                             * (pt.r2_sum - s.n*(s.k+1))) AS num_sq
                  FROM pt CROSS JOIN s
                  GROUP BY s.n, s.k, s.ssq)
            SELECT CAST(n AS BIGINT) AS n_blocks,
                   CAST(k AS BIGINT) AS k_treatments,
                   CAST(CASE WHEN ssq - n*k*(k+1)*(k+1) = 0 THEN 0
                        ELSE ((k-1) * num_sq * 1000000)
                             // (ssq - n*k*(k+1)*(k+1))
                        END AS BIGINT) AS q_ppm
            FROM f""",
        "q_ndcg": """
            WITH q0 AS (SELECT vec_id AS vid, label AS lbl,
                               list_transform(embedding,
                                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                             + 0.5) AS BIGINT)) AS q
                        FROM embeddings),
            anchors AS (SELECT vid AS query_id, q AS aq, lbl AS albl
                        FROM q0 ORDER BY vid LIMIT 8),
            scored AS (
              SELECT a.query_id, c.vid,
                     list_sum(list_transform(generate_series(1, 64),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dist2,
                     CASE WHEN c.lbl = a.albl THEN 1 ELSE 0 END AS rel
              FROM q0 c CROSS JOIN anchors a WHERE c.vid <> a.query_id),
            rnked AS (SELECT query_id, rel,
                             row_number() OVER (PARTITION BY query_id
                                                ORDER BY dist2, vid) AS r
                      FROM scored),
            agg AS (SELECT query_id,
                           SUM(CASE WHEN r <= 10 THEN rel *
                               CAST(floor(1e6 / log2(CAST(r AS DOUBLE) + 1)
                                          + 0.5) AS BIGINT)
                               ELSE 0 END) AS dcg_e6,
                           SUM(rel) AS n_relevant
                    FROM rnked GROUP BY query_id),
            ideal AS (
              SELECT query_id,
                     CAST(n_relevant AS BIGINT) AS n_relevant,
                     CAST(dcg_e6 AS BIGINT) AS dcg_e6,
                     CAST(CASE WHEN n_relevant > 0 THEN
                          coalesce(list_sum(list_transform(
                              range(1, CAST(least(10, n_relevant) + 1
                                            AS BIGINT)),
                              rr -> CAST(floor(1e6
                                        / log2(CAST(rr AS DOUBLE) + 1)
                                        + 0.5) AS BIGINT))), 0)
                          ELSE 0 END AS BIGINT) AS idcg_e6
              FROM agg)
            SELECT query_id, n_relevant, dcg_e6, idcg_e6,
                   CAST(CASE WHEN idcg_e6 > 0 THEN
                        (dcg_e6 * 1000000) // idcg_e6
                        ELSE 0 END AS BIGINT) AS ndcg_ppm
            FROM ideal ORDER BY query_id""",
        "q_dbscan_grid": """
            WITH RECURSIVE p AS (
              SELECT c_custkey AS pid,
                     CAST((c_custkey % 20) * 50
                          + CASE WHEN c_custkey % 11 = 0 THEN 10
                                 ELSE (c_custkey * 7) % 8 END
                          AS BIGINT) AS x,
                     CAST(((c_custkey * 13) % 20) * 50
                          + (c_custkey * 11) % 8 AS BIGINT) AS y
              FROM customer),
            nbr AS (SELECT a.pid AS pa, b.pid AS pb
                    FROM p a JOIN p b
                      ON a.pid <> b.pid
                     AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 100),
            deg AS (SELECT pa AS pid, COUNT(*) AS n FROM nbr GROUP BY pa),
            flags AS (SELECT p.pid, coalesce(deg.n, 0) + 1 >= 4 AS is_core
                      FROM p LEFT JOIN deg USING (pid)),
            ce AS (SELECT pa, pb FROM nbr
                   JOIN flags fa ON fa.pid = nbr.pa AND fa.is_core
                   JOIN flags fb ON fb.pid = nbr.pb AND fb.is_core),
            edges AS (SELECT pa AS a, pb AS b FROM ce
                      UNION SELECT pb, pa FROM ce),
            reach AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r
                      JOIN edges e ON r.b = e.a),
            comp AS (SELECT a AS node, least(a, MIN(b)) AS component
                     FROM reach GROUP BY a),
            core_lbl AS (
              SELECT f.pid, coalesce(c.component, f.pid) AS cluster
              FROM flags f LEFT JOIN comp c ON f.pid = c.node
              WHERE f.is_core),
            border AS (
              SELECT nbr.pa AS pid, MIN(cl.cluster) AS bcluster
              FROM nbr JOIN core_lbl cl ON nbr.pb = cl.pid
              GROUP BY nbr.pa)
            SELECT f.pid AS id,
                   CASE WHEN f.is_core THEN 'core'
                        WHEN b.bcluster IS NOT NULL THEN 'border'
                        ELSE 'noise' END AS role,
                   CAST(coalesce(cl.cluster,
                            CASE WHEN NOT f.is_core THEN b.bcluster END,
                            -1) AS BIGINT) AS cluster
            FROM flags f
            LEFT JOIN core_lbl cl ON f.pid = cl.pid
            LEFT JOIN border b ON f.pid = b.pid""",
        "q_t_closeness": """
            WITH c AS (SELECT c_nationkey, c_mktsegment,
                              CAST(round(c_acctbal) AS BIGINT) % 10
                                AS bal_bucket
                       FROM customer),
            cells AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
                             COUNT(*) AS cnt
                      FROM c GROUP BY 1, 2, 3),
            bins AS (SELECT bal_bucket, SUM(cnt) AS g
                     FROM cells GROUP BY 1),
            classes AS (SELECT c_nationkey, c_mktsegment,
                               SUM(cnt) AS n_class
                        FROM cells GROUP BY 1, 2),
            tot AS (SELECT SUM(g) AS n_total, COUNT(*) AS m_bins
                    FROM bins),
            grid AS (
              SELECT cl.c_nationkey, cl.c_mktsegment, b.bal_bucket,
                     cl.n_class, b.g, coalesce(ce.cnt, 0) AS cnt
              FROM classes cl CROSS JOIN bins b
              LEFT JOIN cells ce
                ON ce.c_nationkey = cl.c_nationkey
               AND ce.c_mktsegment = cl.c_mktsegment
               AND ce.bal_bucket = b.bal_bucket),
            cum AS (
              SELECT c_nationkey, c_mktsegment, n_class,
                     SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                                    ORDER BY bal_bucket) AS cum_c,
                     SUM(g) OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY bal_bucket) AS cum_g
              FROM grid),
            per AS (
              SELECT c_nationkey, c_mktsegment,
                     MAX(n_class) AS n_class,
                     SUM(ABS(CAST(cum_c AS HUGEINT)
                               * (SELECT n_total FROM tot)
                             - CAST(cum_g AS HUGEINT) * n_class))
                       AS emd_num
              FROM cum GROUP BY c_nationkey, c_mktsegment)
            SELECT c_nationkey, c_mktsegment,
                   CAST(n_class AS BIGINT) AS n_class,
                   CAST((emd_num * 1000000)
                        // (CAST(n_class AS HUGEINT)
                            * (SELECT n_total FROM tot)
                            * ((SELECT m_bins FROM tot) - 1))
                        AS BIGINT) AS emd_ppm
            FROM per""",
        "q_harmonic_centrality": """
            WITH e AS (
              SELECT DISTINCT a, b FROM (
                SELECT o_custkey % 500 AS a, o_orderkey % 700 AS b
                FROM orders
                UNION ALL
                SELECT o_orderkey % 700 AS a, o_custkey % 500 AS b
                FROM orders)),
            d0 AS (SELECT CAST(s AS BIGINT) AS s, CAST(s AS BIGINT) AS v,
                          0 AS d
                   FROM (VALUES (0), (1), (2), (3)) AS t(s)),
            d1 AS (SELECT s, v, MIN(d) AS d FROM (
                     SELECT s, v, d FROM d0
                     UNION ALL
                     SELECT d0.s, e.b AS v, d0.d + 1
                     FROM d0 JOIN e ON e.a = d0.v) GROUP BY s, v),
            d2 AS (SELECT s, v, MIN(d) AS d FROM (
                     SELECT s, v, d FROM d1
                     UNION ALL
                     SELECT d1.s, e.b AS v, d1.d + 1
                     FROM d1 JOIN e ON e.a = d1.v) GROUP BY s, v),
            d3 AS (SELECT s, v, MIN(d) AS d FROM (
                     SELECT s, v, d FROM d2
                     UNION ALL
                     SELECT d2.s, e.b AS v, d2.d + 1
                     FROM d2 JOIN e ON e.a = d2.v) GROUP BY s, v)
            SELECT s AS source, CAST(COUNT(*) AS BIGINT) AS n_reached,
                   CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_e6
            FROM d3 WHERE v <> s GROUP BY s""",
        "q_assortativity": """
            WITH sym AS (
              SELECT DISTINCT a, b FROM (
                SELECT o_custkey % 4000 AS a,
                       (o_orderkey % 6000) + 4000 AS b FROM orders
                UNION ALL
                SELECT (o_orderkey % 6000) + 4000 AS a,
                       o_custkey % 4000 AS b FROM orders)),
            deg AS (SELECT a AS nd, CAST(COUNT(*) AS HUGEINT) AS dg
                    FROM sym GROUP BY a),
            xy AS (SELECT da.dg AS x, db.dg AS y
                   FROM sym
                   JOIN deg da ON sym.a = da.nd
                   JOIN deg db ON sym.b = db.nd),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                         SUM(x*x) AS sxx, SUM(y*y) AS syy
                  FROM xy)
            SELECT CAST(n AS BIGINT) AS n_directed_edges,
                   CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE)
                        / sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                        / sqrt(CAST(n*syy - sy*sy AS DOUBLE))
                        * 1e9) AS BIGINT) AS assortativity_ppb
            FROM s""",
        "q_modularity": """
            WITH sym AS (
              SELECT DISTINCT a, b FROM (
                SELECT o_custkey % 4000 AS a,
                       (o_orderkey % 6000) + 4000 AS b FROM orders
                UNION ALL
                SELECT (o_orderkey % 6000) + 4000 AS a,
                       o_custkey % 4000 AS b FROM orders)),
            lab AS (SELECT node, node % 8 AS community
                    FROM (SELECT DISTINCT a AS node FROM sym)),
            bt AS (SELECT la.community AS ca, lb.community AS cb
                   FROM sym
                   JOIN lab la ON sym.a = la.node
                   JOIN lab lb ON sym.b = lb.node),
            per_c AS (SELECT ca, CAST(COUNT(*) AS HUGEINT) AS d_c,
                             CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END)
                                  AS HUGEINT) AS mc2
                      FROM bt GROUP BY ca),
            tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM bt),
            s AS (SELECT (SELECT m2 FROM tot) AS m2,
                         CAST(COUNT(*) AS BIGINT) AS n_communities,
                         SUM(mc2 * (SELECT m2 FROM tot) - d_c*d_c) AS qnum
                  FROM per_c)
            SELECT CAST(m2 // 2 AS BIGINT) AS m_edges, n_communities,
                   CAST(CASE WHEN m2 = 0 THEN 0
                        ELSE (qnum * 1000000) // (m2 * m2)
                        END AS BIGINT) AS q_ppm
            FROM s""",
        "q_cohens_kappa": f"""
            WITH w AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(text, ' ')) AS ws
              FROM documents),
            pred AS (SELECT lang AS ra, {lang_case} AS rb FROM w),
            base AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                            CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END)
                                 AS HUGEINT) AS agree
                     FROM pred),
            r AS (SELECT ra, CAST(COUNT(*) AS HUGEINT) AS n_row
                  FROM pred GROUP BY ra),
            c AS (SELECT rb, CAST(COUNT(*) AS HUGEINT) AS n_col
                  FROM pred GROUP BY rb),
            pe AS (SELECT coalesce(SUM(n_row * n_col), 0) AS pe_num
                   FROM r JOIN c ON r.ra = c.rb)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST((agree * 1000000) // n AS BIGINT) AS po_ppm,
                   CAST((pe_num * 1000000) // (n * n) AS BIGINT) AS pe_ppm,
                   CAST(CASE WHEN n * n - pe_num = 0 THEN 0
                        ELSE ((n * agree - pe_num) * 1000000)
                             // (n * n - pe_num) END AS BIGINT)
                     AS kappa_ppm
            FROM base, pe""",
        "q_mcc": """
            WITH d AS (SELECT (lang = 'en') AS y, (n_chars >= 500) AS p
                       FROM documents),
            c AS (SELECT
                    CAST(SUM(CASE WHEN y AND p THEN 1 ELSE 0 END)
                         AS HUGEINT) AS tp,
                    CAST(SUM(CASE WHEN NOT y AND p THEN 1 ELSE 0 END)
                         AS HUGEINT) AS fp,
                    CAST(SUM(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)
                         AS HUGEINT) AS tn,
                    CAST(SUM(CASE WHEN y AND NOT p THEN 1 ELSE 0 END)
                         AS HUGEINT) AS fn
                  FROM d)
            SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
                   CAST(CASE WHEN (tp+fp)*(tp+fn) = 0
                             OR (tn+fp)*(tn+fn) = 0 THEN 0
                        ELSE floor(CAST(tp*tn - fp*fn AS DOUBLE)
                             / sqrt(CAST(tp+fp AS DOUBLE))
                             / sqrt(CAST(tp+fn AS DOUBLE))
                             / sqrt(CAST(tn+fp AS DOUBLE))
                             / sqrt(CAST(tn+fn AS DOUBLE))
                             * 1e9) END AS BIGINT) AS mcc_ppb
            FROM c""",
        "q_theil_u": """
            WITH cells AS (SELECT lang AS xv, source AS yv,
                                  COUNT(*) AS n_xy
                           FROM documents GROUP BY 1, 2),
            ny AS (SELECT yv, SUM(n_xy) AS n_y FROM cells GROUP BY 1),
            nx AS (SELECT xv, SUM(n_xy) AS n_x FROM cells GROUP BY 1),
            tot AS (SELECT SUM(n_xy) AS n FROM cells),
            hx AS (SELECT SUM(CAST(round(1e9
                       * (CAST(n_x AS DOUBLE) / n)
                       * ln(CAST(n AS DOUBLE) / n_x)) AS BIGINT))
                     AS hx_e9
                   FROM nx, tot),
            hxy AS (SELECT SUM(CAST(round(1e9
                        * (CAST(n_xy AS DOUBLE) / n)
                        * ln(CAST(n_y AS DOUBLE) / n_xy)) AS BIGINT))
                      AS hxy_e9
                    FROM cells JOIN ny USING (yv), tot)
            SELECT CAST(hx_e9 AS BIGINT) AS hx_e9,
                   CAST(hxy_e9 AS BIGINT) AS hxy_e9,
                   CAST(CASE WHEN hx_e9 = 0 THEN 0
                        ELSE ((hx_e9 - hxy_e9) * 1000000) // hx_e9
                        END AS BIGINT) AS u_ppm
            FROM hx, hxy""",
        "q_drawdown": """
            WITH d AS (SELECT event_type AS k, ts, event_id,
                              CAST(CAST(value AS DECIMAL(18,2)) * 100
                                   AS BIGINT) - 10000 AS v
                       FROM events),
            c AS (SELECT k, ts, event_id,
                         SUM(v) OVER (PARTITION BY k ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM d),
            p AS (SELECT k,
                         MAX(cum) OVER (PARTITION BY k
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) - cum
                           AS dd
                  FROM c)
            SELECT k AS event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
                   CAST(MAX(dd) AS BIGINT) AS max_drawdown
            FROM p GROUP BY k""",
        "q_decayed_topk": """
            WITH mx AS (SELECT MAX(ts) AS mx FROM events),
            d AS (SELECT user_id AS key,
                         CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT) AS cents,
                         date_diff('day', CAST(ts AS DATE),
                                   CAST(mx AS DATE)) AS age_d
                  FROM events, mx),
            t AS (SELECT key,
                         CAST(round(cents * pow(2.0,
                              -CAST(age_d AS DOUBLE) / 7.0) * 1e4)
                              AS BIGINT) AS t
                  FROM d)
            SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(t) AS BIGINT) AS score_e6
            FROM t GROUP BY key
            ORDER BY score_e6 DESC, key LIMIT 20""",
        "q_cronbach": f"""
            WITH d AS (SELECT n_chars // 100 AS i1,
                              len(string_split(text, ' ')) // 20 AS i2,
                              len(regexp_extract_all(text,
                                  '{TOKEN_PATTERN}')) // 20 AS i3
                       FROM documents),
            m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         SUM(CAST(i1 AS HUGEINT)) AS s0,
                         SUM(CAST(i1 AS HUGEINT) * i1) AS q0,
                         SUM(CAST(i2 AS HUGEINT)) AS s1,
                         SUM(CAST(i2 AS HUGEINT) * i2) AS q1,
                         SUM(CAST(i3 AS HUGEINT)) AS s2,
                         SUM(CAST(i3 AS HUGEINT) * i3) AS q2,
                         SUM(CAST(i1 + i2 + i3 AS HUGEINT)) AS st,
                         SUM(CAST(i1 + i2 + i3 AS HUGEINT)
                             * (i1 + i2 + i3)) AS qt
                  FROM d)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(3 AS BIGINT) AS k_items,
                   CAST(CASE WHEN n*qt - st*st = 0 THEN 0
                        ELSE (3 * ((n*qt - st*st)
                              - ((n*q0 - s0*s0) + (n*q1 - s1*s1)
                                 + (n*q2 - s2*s2))) * 1000000)
                             // (2 * (n*qt - st*st)) END AS BIGINT)
                     AS alpha_ppm
            FROM m""",
        "q_dedup_cascade": """
            WITH RECURSIVE
            k1 AS (SELECT md5(text) AS h, MIN(doc_id) AS kid
                   FROM documents GROUP BY 1),
            s1 AS (SELECT d.doc_id, d.text FROM documents d
                   JOIN k1 ON d.doc_id = k1.kid),
            k2 AS (SELECT md5(trim(regexp_replace(regexp_replace(
                              lower(text), '[^a-z0-9 ]', ' ', 'g'),
                              ' +', ' ', 'g'))) AS h,
                          MIN(doc_id) AS kid
                   FROM s1 GROUP BY 1),
            s2 AS (SELECT d.doc_id, d.text FROM s1 d
                   JOIN k2 ON d.doc_id = k2.kid),
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s2),
            sh AS (SELECT doc_id,
                          unnest(list_distinct(list_transform(
                              range(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1] || ' '
                                   || ws[i+2]))) AS shingle
                   FROM w WHERE len(ws) >= 3),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             COUNT(*) AS inter
                      FROM sh a JOIN sh b USING (shingle)
                      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (SELECT doc_a, doc_b FROM inter
                      JOIN sz sa ON sa.doc_id = doc_a
                      JOIN sz sb ON sb.doc_id = doc_b
                      WHERE CAST(inter AS DOUBLE)
                            / (sa.sz + sb.sz - inter) >= 0.5),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r
                      JOIN edges e ON r.b = e.a),
            comp AS (SELECT a AS node, least(a, MIN(b)) AS component
                     FROM reach GROUP BY a),
            n3 AS (SELECT COUNT(DISTINCT
                       coalesce(c.component, s2.doc_id)) AS n
                   FROM s2 LEFT JOIN comp c ON s2.doc_id = c.node),
            n0 AS (SELECT COUNT(*) AS n FROM documents),
            n1 AS (SELECT COUNT(*) AS n FROM s1),
            n2 AS (SELECT COUNT(*) AS n FROM s2)
            SELECT CAST(1 AS INTEGER) AS stage_no, 'exact' AS stage,
                   CAST((SELECT n FROM n0) AS BIGINT) AS n_in,
                   CAST((SELECT n FROM n1) AS BIGINT) AS n_out,
                   CAST((SELECT n FROM n0) - (SELECT n FROM n1)
                        AS BIGINT) AS removed
            UNION ALL
            SELECT CAST(2 AS INTEGER), 'normalized',
                   CAST((SELECT n FROM n1) AS BIGINT),
                   CAST((SELECT n FROM n2) AS BIGINT),
                   CAST((SELECT n FROM n1) - (SELECT n FROM n2)
                        AS BIGINT)
            UNION ALL
            SELECT CAST(3 AS INTEGER), 'neardup',
                   CAST((SELECT n FROM n2) AS BIGINT),
                   CAST((SELECT n FROM n3) AS BIGINT),
                   CAST((SELECT n FROM n2) - (SELECT n FROM n3)
                        AS BIGINT)""",
        "q_sax_words": """
            WITH d AS (SELECT event_type AS k, ts, event_id,
                              CAST(CAST(value AS DECIMAL(18,2)) * 100
                                   AS BIGINT) AS c
                       FROM events),
            r AS (SELECT k, c,
                         row_number() OVER (PARTITION BY k
                                            ORDER BY ts, event_id) AS r,
                         COUNT(*) OVER (PARTITION BY k) AS n
                  FROM d),
            seg AS (SELECT k, n, c, ((r - 1) * 8) // n AS seg FROM r),
            m AS (SELECT k, seg, MAX(n) AS n,
                         SUM(c) // COUNT(*) AS mc
                  FROM seg GROUP BY k, seg),
            b AS (SELECT k, seg, mc, n,
                         MIN(mc) OVER (PARTITION BY k) AS mn,
                         MAX(mc) OVER (PARTITION BY k) AS mx
                  FROM m),
            sym AS (SELECT k, seg, n,
                           least(3, ((mc - mn) * 4) // (mx - mn + 1))
                             AS sym
                    FROM b)
            SELECT k AS event_type,
                   CAST(MAX(n) AS BIGINT) AS n_points,
                   string_agg(chr(97 + CAST(sym AS INTEGER)), ''
                              ORDER BY seg) AS sax_word
            FROM sym GROUP BY k""",
        "q_lift_table": """
            WITH d AS (SELECT doc_id, n_chars,
                              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                       FROM documents),
            r AS (SELECT y,
                         row_number() OVER (ORDER BY n_chars DESC,
                                            doc_id) AS rn
                  FROM d),
            tot AS (SELECT COUNT(*) AS n, SUM(y) AS pos FROM d),
            binned AS (SELECT CAST((rn - 1) * 10 // (SELECT n FROM tot)
                                   AS INTEGER) AS bin,
                              COUNT(*) AS n, SUM(y) AS n_pos
                       FROM r GROUP BY 1),
            cum AS (SELECT bin, n, n_pos,
                           SUM(n) OVER (ORDER BY bin
                                        ROWS UNBOUNDED PRECEDING) AS cum_n,
                           SUM(n_pos) OVER (ORDER BY bin
                                        ROWS UNBOUNDED PRECEDING)
                             AS cum_pos
                    FROM binned)
            SELECT bin, CAST(n AS BIGINT) AS n,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(cum_n AS BIGINT) AS cum_n,
                   CAST(cum_pos AS BIGINT) AS cum_pos,
                   CAST(CASE WHEN (SELECT pos FROM tot) = 0 THEN 0
                        ELSE (CAST(cum_pos AS HUGEINT) * 1000000)
                             // (SELECT pos FROM tot) END AS BIGINT)
                     AS gain_ppm,
                   CAST(CASE WHEN (SELECT pos FROM tot) = 0
                             OR cum_n = 0 THEN 0
                        ELSE (CAST(cum_pos AS HUGEINT)
                              * (SELECT n FROM tot) * 1000000)
                             // (CAST(cum_n AS HUGEINT)
                                 * (SELECT pos FROM tot))
                        END AS BIGINT) AS lift_ppm
            FROM cum""",
        "q_ece": """
            WITH m AS (SELECT MAX(n_chars) AS smax FROM documents),
            b AS (SELECT least(n_chars * 10 // (smax + 1), 9) AS bin,
                         n_chars AS score, (lang = 'en') AS y, smax
                  FROM documents, m),
            g AS (SELECT bin, COUNT(*) AS n_rows,
                         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
                         SUM(score) AS ssum, MAX(smax) AS smax
                  FROM b GROUP BY bin),
            rel AS (SELECT n_rows,
                           CAST(n_pos * 1000000 // n_rows AS BIGINT)
                             AS pr,
                           CAST(CASE WHEN smax > 0 THEN
                                (CAST(ssum AS HUGEINT) * 1000000)
                                  // (CAST(n_rows AS HUGEINT) * smax)
                                ELSE 0 END AS BIGINT) AS ms
                    FROM g)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_bins_used,
                   CAST(SUM(n_rows) AS BIGINT) AS n,
                   CAST(SUM(CAST(n_rows AS HUGEINT) * abs(pr - ms))
                        // SUM(CAST(n_rows AS HUGEINT)) AS BIGINT)
                     AS ece_ppm
            FROM rel""",
        "q_oov_rate": """
            WITH b AS (SELECT doc_id, text,
                              CAST(('0x' || substr(md5('oov'
                                   || CAST(doc_id AS VARCHAR)), 1, 15))
                                   AS BIGINT) % 10000 AS bk
                       FROM documents),
            tr AS (SELECT DISTINCT unnest(list_filter(
                       string_split(text, ' '), x -> x <> '')) AS w
                   FROM b WHERE bk < 8000),
            ev AS (SELECT doc_id, unnest(list_filter(
                       string_split(text, ' '), x -> x <> '')) AS w
                   FROM b WHERE bk >= 8000)
            SELECT ev.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN tr.w IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(SUM(CASE WHEN tr.w IS NULL THEN 1 ELSE 0 END)
                        * 1000000 // COUNT(*) AS BIGINT) AS oov_ppm
            FROM ev LEFT JOIN tr ON ev.w = tr.w
            GROUP BY ev.doc_id""",
        "q_moments": f"""
            WITH m AS (
              SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n,
                     SUM(CAST(n_chars AS HUGEINT)) AS s1,
                     SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2,
                     SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars)
                       AS s3,
                     SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars
                         * n_chars) AS s4
              FROM documents GROUP BY lang),
            c AS (SELECT lang, n, s1,
                         n*s2 - s1*s1 AS a,
                         n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS b,
                         n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2
                           - s1*s1*s1*s1*3 AS c
                  FROM m)
            SELECT lang, CAST(n AS BIGINT) AS n,
                   CAST((s1 * 1000) // n AS BIGINT) AS mean_milli,
                   CAST((a * 1000) // (n * n) AS BIGINT) AS var_milli,
                   CAST(CASE WHEN a <= 0 THEN 0 ELSE
                        floor({det_double_sql('b')}
                              / (sqrt({det_double_sql('a')})
                                 * {det_double_sql('a')}) * 1e6)
                        END AS BIGINT) AS skew_e6,
                   CAST(CASE WHEN a <= 0 THEN 0 ELSE
                        floor(({det_double_sql('c')}
                               / {det_double_sql('a')}
                               / {det_double_sql('a')} - 3.0) * 1e6)
                        END AS BIGINT) AS kurt_e6
            FROM c""",
        "q_mantel_haenszel": """
            WITH d AS (SELECT source AS s, (lang = 'en') AS e,
                              (n_chars >= 500) AS o
                       FROM documents),
            t AS (SELECT s,
                         SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS a,
                         SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)
                           AS b,
                         SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)
                           AS c,
                         SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
                           AS d
                  FROM d GROUP BY s),
            r AS (SELECT
                    CAST(round(1e6 * CAST(a*d AS DOUBLE)
                               / (a+b+c+d)) AS BIGINT) AS tn,
                    CAST(round(1e6 * CAST(b*c AS DOUBLE)
                               / (a+b+c+d)) AS BIGINT) AS td
                  FROM t)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                   CAST(SUM(tn) AS BIGINT) AS num_e6,
                   CAST(SUM(td) AS BIGINT) AS den_e6,
                   CAST(CASE WHEN SUM(td) = 0 THEN 0
                        ELSE (CAST(SUM(tn) AS HUGEINT) * 1000000)
                             // SUM(td) END AS BIGINT) AS or_mh_ppm
            FROM r""",
        "q_ljung_box": f"""
            WITH acf AS ({_acf_oracle()})
            SELECT event_type,
                   n_obs,
                   CAST((CAST(n_obs AS HUGEINT) * (n_obs + 2) * (
                       (CAST(acf_1_ppb AS HUGEINT) * acf_1_ppb)
                         // (n_obs - 1)
                     + (CAST(acf_2_ppb AS HUGEINT) * acf_2_ppb)
                         // (n_obs - 2)
                     + (CAST(acf_3_ppb AS HUGEINT) * acf_3_ppb)
                         // (n_obs - 3)
                   )) // 1000000000000 AS BIGINT) AS q_ppm
            FROM acf""",
        "q_lorenz": """
            WITH r AS (SELECT n_chars AS v,
                              row_number() OVER (ORDER BY n_chars,
                                                 doc_id) AS rn
                       FROM documents),
            tot AS (SELECT COUNT(*) AS n,
                           SUM(CAST(v AS HUGEINT)) AS mass FROM r),
            binned AS (SELECT CAST((rn - 1) * 10
                                   // (SELECT n FROM tot) AS INTEGER)
                                AS bin,
                              COUNT(*) AS n,
                              SUM(CAST(v AS HUGEINT)) AS mass
                       FROM r GROUP BY 1),
            cum AS (SELECT bin, n, mass,
                           SUM(mass) OVER (ORDER BY bin
                                       ROWS UNBOUNDED PRECEDING)
                             AS cum_mass
                    FROM binned)
            SELECT bin, CAST(n AS BIGINT) AS n,
                   CAST(mass AS BIGINT) AS mass,
                   CAST(cum_mass AS BIGINT) AS cum_mass,
                   CAST(CASE WHEN (SELECT mass FROM tot) = 0 THEN 0
                        ELSE (CAST(cum_mass AS HUGEINT) * 1000000)
                             // (SELECT mass FROM tot) END AS BIGINT)
                     AS cum_share_ppm
            FROM cum""",
        "q_logrank": """
            WITH d AS (
              SELECT least(date_diff('day', CAST(o_orderdate AS DATE),
                                     CAST(l_shipdate AS DATE)), 45) AS t,
                     CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) < 45
                          THEN 1 ELSE 0 END AS e,
                     CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END
                       AS g
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            gt AS (SELECT g, t, COUNT(*) AS c, SUM(e) AS o
                   FROM d GROUP BY 1, 2),
            ti AS (SELECT DISTINCT t FROM d),
            gr AS (SELECT DISTINCT g FROM d),
            dense AS (
              SELECT gr.g, ti.t,
                     SUM(CASE WHEN gt.t >= ti.t THEN gt.c ELSE 0 END)
                       AS nr,
                     SUM(CASE WHEN gt.t = ti.t THEN gt.o ELSE 0 END)
                       AS o
              FROM ti CROSS JOIN gr JOIN gt ON gt.g = gr.g
              GROUP BY gr.g, ti.t),
            g1 AS (SELECT t, nr AS n1, o AS o1 FROM dense WHERE g = 1),
            g0 AS (SELECT t, nr AS n0, o AS o0 FROM dense WHERE g = 0),
            p AS (SELECT t, o1, o1 + o0 AS ot,
                         CAST(n1 AS DOUBLE) AS n1,
                         CAST(n1 + n0 AS DOUBLE) AS nt
                  FROM g1 JOIN g0 USING (t)
                  WHERE o1 + o0 > 0 AND n1 + n0 > 1),
            terms AS (SELECT o1,
                        CAST(round(1e6 * (CAST(o1 AS DOUBLE)
                             - CAST(ot AS DOUBLE) * n1 / nt))
                             AS BIGINT) AS num,
                        CAST(round(1e6 * CAST(ot AS DOUBLE) * (n1 / nt)
                             * (1.0 - n1 / nt)
                             * (nt - CAST(ot AS DOUBLE)) / (nt - 1.0))
                             AS BIGINT) AS vr
                      FROM p),
            s AS (SELECT COUNT(*) AS n_event_times, SUM(o1) AS o1_total,
                         SUM(num) AS s_e6, SUM(vr) AS v_e6
                  FROM terms)
            SELECT CAST(n_event_times AS BIGINT) AS n_event_times,
                   CAST(o1_total AS BIGINT) AS o1_total,
                   CAST(s_e6 AS BIGINT) AS s_e6,
                   CAST(v_e6 AS BIGINT) AS v_e6,
                   CAST(CASE WHEN v_e6 <= 0 THEN 0
                        ELSE floor(CAST(s_e6 AS DOUBLE) * 1e3
                                   / sqrt(CAST(v_e6 AS DOUBLE)))
                        END AS BIGINT) AS z_ppm
            FROM s""",
        "q_by_fdr": """
            WITH c AS (SELECT user_id, COUNT(*) AS n
                       FROM events GROUP BY user_id),
            stats AS (SELECT COUNT(*) AS m, SUM(n) AS tot,
                             SUM(n * n) AS tot2
                      FROM c),
            hyp AS (
              SELECT user_id,
                     CASE WHEN n * m - tot = 0 THEN 1000000
                          ELSE least(1000000, CAST(
                            (CAST(m AS HUGEINT) * tot2
                             - CAST(tot AS HUGEINT) * tot) * 1000000
                            // ((CAST(n AS HUGEINT) * m - tot)
                                * (CAST(n AS HUGEINT) * m - tot))
                            AS BIGINT)) END AS p_ppm
              FROM c, stats),
            cm AS (SELECT COUNT(*) AS m2 FROM hyp),
            harm AS (SELECT SUM(1000000000 // j) AS c_e9
                     FROM generate_series(1, 1000000) AS t(j), cm
                     WHERE j <= cm.m2),
            ranked AS (
              SELECT user_id AS id, p_ppm,
                     row_number() OVER (ORDER BY p_ppm, user_id) AS rnk
              FROM hyp),
            cut AS (SELECT MAX(CASE WHEN CAST(p_ppm AS HUGEINT)
                                         * (SELECT m2 FROM cm)
                                         * (SELECT c_e9 FROM harm)
                                    <= CAST(rnk AS HUGEINT) * 100000
                                       * 1000000000
                                    THEN rnk ELSE 0 END) AS k
                    FROM ranked)
            SELECT id, p_ppm, rnk, rnk <= k AS reject
            FROM ranked, cut""",
        "q_lsh_plan": """
            WITH d AS (SELECT CAST(b AS INTEGER) AS bands,
                              CAST(128 / b AS INTEGER) AS rows_per_band
                       FROM generate_series(1, 128) AS t(b)
                       WHERE 128 % b = 0),
            thr AS (SELECT bands, rows_per_band,
                           CAST(floor(pow(1.0 / bands,
                                1.0 / rows_per_band) * 1e6) AS BIGINT)
                             AS threshold_ppm
                    FROM d),
            best AS (SELECT bands AS bb FROM thr
                     ORDER BY abs(threshold_ppm - 500000), bands
                     LIMIT 1)
            SELECT bands, rows_per_band, threshold_ppm,
                   bands = (SELECT bb FROM best) AS recommended
            FROM thr ORDER BY bands""",
        "q_kendall_tau": """
            WITH cells AS (
              SELECT l_quantity AS x, l_linenumber AS y,
                     CAST(COUNT(*) AS HUGEINT) AS cnt
              FROM lineitem GROUP BY 1, 2),
            p AS (
              SELECT SUM(CASE WHEN a.y < b.y THEN a.cnt * b.cnt
                              ELSE 0 END) AS c,
                     SUM(CASE WHEN a.y > b.y THEN a.cnt * b.cnt
                              ELSE 0 END) AS d
              FROM cells a JOIN cells b
                ON a.x < b.x AND a.y <> b.y),
            mx AS (SELECT SUM(cx * (cx - 1)) AS tx2, SUM(cx) AS n
                   FROM (SELECT SUM(cnt) AS cx FROM cells GROUP BY x)),
            my AS (SELECT SUM(cy * (cy - 1)) AS ty2
                   FROM (SELECT SUM(cnt) AS cy FROM cells GROUP BY y))
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(c AS BIGINT) AS concordant,
                   CAST(d AS BIGINT) AS discordant,
                   CAST(floor(CAST(c - d AS DOUBLE)
                        / sqrt(CAST(n * (n - 1) - tx2 AS DOUBLE) / 2.0)
                        / sqrt(CAST(n * (n - 1) - ty2 AS DOUBLE) / 2.0)
                        * 1e9) AS BIGINT) AS tau_b_ppb
            FROM p, mx, my""",
        "q_wasserstein": """
            WITH d AS (SELECT CAST(n_chars AS BIGINT) AS v,
                              lang = 'en' AS is_a
                       FROM documents WHERE lang IN ('en', 'es')),
            c AS (SELECT v,
                         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                              AS BIGINT) AS ca,
                         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END)
                              AS BIGINT) AS cb
                  FROM d GROUP BY v),
            cum AS (SELECT v,
                           CAST(SUM(ca) OVER (ORDER BY v) AS HUGEINT)
                             AS cuma,
                           CAST(SUM(cb) OVER (ORDER BY v) AS HUGEINT)
                             AS cumb,
                           lead(v) OVER (ORDER BY v) AS v_next
                    FROM c),
            tot AS (SELECT CAST(SUM(ca) AS HUGEINT) AS na,
                           CAST(SUM(cb) AS HUGEINT) AS nb
                    FROM c),
            s AS (SELECT SUM(abs(cuma * nb - cumb * na)
                             * CAST(v_next - v AS HUGEINT)) AS mass,
                         ANY_VALUE(na) AS na, ANY_VALUE(nb) AS nb
                  FROM cum, tot WHERE v_next IS NOT NULL)
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   CAST((mass * 1000000) // (na * nb) AS BIGINT)
                     AS w1_ppm
            FROM s""",
        "q_effect_sizes": """
            WITH d AS (SELECT CAST(n_chars AS BIGINT) AS v,
                              lang = 'en' AS is_a
                       FROM documents WHERE lang IN ('en', 'es')),
            m AS (SELECT
                    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                         AS HUGEINT) AS na,
                    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END)
                         AS HUGEINT) AS nb,
                    CAST(SUM(CASE WHEN is_a THEN v ELSE 0 END)
                         AS HUGEINT) AS sa,
                    CAST(SUM(CASE WHEN is_a THEN 0 ELSE v END)
                         AS HUGEINT) AS sb,
                    CAST(SUM(CASE WHEN is_a THEN v * v ELSE 0 END)
                         AS HUGEINT) AS ssa,
                    CAST(SUM(CASE WHEN is_a THEN 0 ELSE v * v END)
                         AS HUGEINT) AS ssb
                  FROM d),
            dg AS (SELECT na, nb,
                     (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                     / sqrt(((CAST(ssa AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                                / CAST(na AS DOUBLE))
                             + (CAST(ssb AS DOUBLE)
                                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                                  / CAST(nb AS DOUBLE)))
                            / CAST(na + nb - 2 AS DOUBLE)) AS dd
                   FROM m),
            c AS (SELECT v,
                         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                              AS BIGINT) AS ca,
                         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END)
                              AS BIGINT) AS cb
                  FROM d GROUP BY v),
            sc AS (SELECT ca, cb,
                          CAST(SUM(cb) OVER (ORDER BY v) - cb AS HUGEINT)
                            AS b_below
                   FROM c),
            delta AS (SELECT SUM(CAST(ca AS HUGEINT)
                              * (b_below - (tot.nb - b_below
                                            - CAST(cb AS HUGEINT))))
                               AS net,
                             ANY_VALUE(tot.na) AS na,
                             ANY_VALUE(tot.nb) AS nb
                      FROM sc, (SELECT CAST(SUM(ca) AS HUGEINT) AS na,
                                       CAST(SUM(cb) AS HUGEINT) AS nb
                                FROM c) AS tot)
            SELECT CAST(dg.na AS BIGINT) AS n_a,
                   CAST(dg.nb AS BIGINT) AS n_b,
                   CAST(floor(dd * 1e6) AS BIGINT) AS cohens_d_ppm,
                   CAST(floor(dd * (1.0 - 3.0
                        / (4.0 * CAST(dg.na + dg.nb AS DOUBLE) - 9.0))
                        * 1e6) AS BIGINT) AS hedges_g_ppm,
                   CAST((net * 1000000) // (delta.na * delta.nb)
                        AS BIGINT) AS cliffs_delta_ppm
            FROM dg, delta""",
        "q_cochran_armitage": """
            WITH doses AS (
              SELECT CAST(l_linenumber AS BIGINT) AS w,
                     CAST(COUNT(*) AS HUGEINT) AS ni,
                     CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1
                              ELSE 0 END) AS HUGEINT) AS ri
              FROM lineitem GROUP BY 1),
            s AS (SELECT SUM(ni) AS n, SUM(ri) AS r,
                         SUM(w * ri) AS wr, SUM(w * ni) AS wn,
                         SUM(w * w * ni) AS wwn
                  FROM doses)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(r AS BIGINT) AS n_pos,
                   CAST(floor(CAST(n * wr - r * wn AS DOUBLE)
                        / sqrt(CAST(r * (n - r)
                                    * (n * wwn - wn * wn) AS DOUBLE)
                               / CAST(n - 1 AS DOUBLE))
                        * 1e6) AS BIGINT) AS z_ppm
            FROM s""",
        "q_mcnemar": """
            WITH d AS (SELECT (n_chars >= 500) = (lang = 'en') AS oka,
                              (n_chars >= 800) = (lang = 'en') AS okb
                       FROM documents),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(CASE WHEN oka AND NOT okb THEN 1
                                  ELSE 0 END) AS BIGINT) AS b10,
                         CAST(SUM(CASE WHEN NOT oka AND okb THEN 1
                                  ELSE 0 END) AS BIGINT) AS b01
                  FROM d)
            SELECT n, b10 AS a_only_correct, b01 AS b_only_correct,
                   CAST(CASE WHEN b10 + b01 = 0 THEN 0
                        ELSE ((b10 - b01) * (b10 - b01) * 1000000)
                             // (b10 + b01) END AS BIGINT) AS chi2_ppm
            FROM s""",
        "q_durbin_watson": """
            WITH g AS (SELECT event_type AS k, event_id AS o,
                              CAST(floor(value * 1000000) AS HUGEINT)
                                AS v
                       FROM events),
            l AS (SELECT k, v,
                         v - lag(v) OVER (PARTITION BY k ORDER BY o)
                           AS dv
                  FROM g),
            s AS (SELECT k, CAST(COUNT(*) AS HUGEINT) AS n,
                         SUM(v) AS sv, SUM(v * v) AS svv,
                         SUM(dv * dv) AS sdd
                  FROM l GROUP BY k)
            SELECT k AS etype, CAST(n AS BIGINT) AS n,
                   CASE WHEN n * n * svv - n * sv * sv = 0 THEN NULL
                        ELSE CAST((n * n * sdd * 1000000)
                             // (n * n * svv - n * sv * sv) AS BIGINT)
                        END AS dw_ppm
            FROM s""",
        "q_target_encode": """
            WITH pf AS (
              SELECT o_orderpriority AS cat,
                     CAST(CAST(('0x' || substr(md5(
                          CAST(o_orderkey AS VARCHAR)), 1, 15))
                          AS BIGINT) % 5 AS INTEGER) AS fold,
                     CAST(COUNT(*) AS HUGEINT) AS cnt,
                     CAST(SUM(CAST(floor(o_totalprice * 100)
                              AS HUGEINT)) AS HUGEINT) AS s
              FROM orders GROUP BY 1, 2),
            tot AS (SELECT cat, SUM(cnt) AS tot_cnt, SUM(s) AS tot_s
                    FROM pf GROUP BY cat)
            SELECT pf.cat AS cat, pf.fold AS fold,
                   CAST(cnt AS BIGINT) AS n_in,
                   CAST(tot_cnt - cnt AS BIGINT) AS n_out,
                   CASE WHEN tot_cnt - cnt = 0 THEN NULL
                        ELSE CAST((tot_s - s) // (tot_cnt - cnt)
                                  AS BIGINT) END AS enc
            FROM pf JOIN tot USING (cat)""",
        "q_randomization_test": """
            WITH d AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS v,
                              lang = 'en' AS is_a
                       FROM documents WHERE lang IN ('en', 'es')),
            tot AS (SELECT
                      CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                           AS HUGEINT) AS na,
                      CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END)
                           AS HUGEINT) AS nb,
                      CAST(SUM(CASE WHEN is_a THEN v ELSE 0 END)
                           AS HUGEINT) AS sa,
                      CAST(SUM(CASE WHEN is_a THEN 0 ELSE v END)
                           AS HUGEINT) AS sb
                    FROM d),
            asg AS (SELECT t.r AS rep, d.v,
                      (CAST(('0x' || substr(md5(CAST(d.id AS VARCHAR)
                            || '_' || CAST(t.r AS VARCHAR)), 1, 15))
                            AS BIGINT)
                       % CAST(tot.na + tot.nb AS BIGINT))
                        < CAST(tot.na AS BIGINT) AS pa
                    FROM d, tot, range(0, 100) AS t(r)),
            reps AS (SELECT rep,
                       CAST(SUM(CASE WHEN pa THEN 1 ELSE 0 END)
                            AS HUGEINT) AS nar,
                       CAST(SUM(CASE WHEN pa THEN 0 ELSE 1 END)
                            AS HUGEINT) AS nbr,
                       CAST(SUM(CASE WHEN pa THEN v ELSE 0 END)
                            AS HUGEINT) AS sar,
                       CAST(SUM(CASE WHEN pa THEN 0 ELSE v END)
                            AS HUGEINT) AS sbr
                     FROM asg GROUP BY rep),
            ex AS (SELECT CAST(SUM(CASE WHEN nar = 0 OR nbr = 0
                          OR CAST(abs(sar * nbr - sbr * nar) AS DOUBLE)
                             * CAST(tot.na * tot.nb AS DOUBLE)
                             >= CAST(abs(tot.sa * tot.nb
                                         - tot.sb * tot.na) AS DOUBLE)
                                * CAST(nar * nbr AS DOUBLE)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
                   FROM reps, tot)
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   CAST(floor(CAST(sa * nb - sb * na AS DOUBLE)
                        / CAST(na * nb AS DOUBLE) * 1e6) AS BIGINT)
                     AS obs_diff_ppm,
                   n_exceed,
                   CAST(((n_exceed + 1) * 1000000) // 101 AS BIGINT)
                     AS p_ppm
            FROM tot, ex""",
        "q_dp_mean": """
            WITH agg AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(least(greatest(
                          CAST(n_chars AS BIGINT), 0), 2000))
                          AS HUGEINT) AS s
              FROM documents GROUP BY source),
            k AS (SELECT source, n, s,
                    (CAST(('0x' || substr(md5('sum|' || source), 1, 15))
                          AS BIGINT) % 1048576) * 2 + 1 - 1048576
                      AS num_s,
                    (CAST(('0x' || substr(md5('cnt|' || source), 1, 15))
                          AS BIGINT) % 1048576) * 2 + 1 - 1048576
                      AS num_c
                  FROM agg),
            nz AS (SELECT source, n,
                     s * 1000000 + CAST(floor(sign(num_s)
                       * -ln((1048576 - abs(num_s)) / 1048576.0)
                       * 4000.0 * 1000000.0) AS BIGINT) AS nsum,
                     n * 1000000 + CAST(floor(sign(num_c)
                       * -ln((1048576 - abs(num_c)) / 1048576.0)
                       * 2.0 * 1000000.0) AS BIGINT) AS ncnt
                   FROM k)
            SELECT source, n,
                   CAST(floor(CAST(nsum AS DOUBLE)
                        / CAST(greatest(ncnt, 1) AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS noisy_mean_ppm
            FROM nz""",
        "q_neighbor_jaccard": """
            WITH e AS (
              SELECT DISTINCT
                     least(o_custkey % 4000,
                           (o_orderkey % 6000) + 4000) AS lo,
                     greatest(o_custkey % 4000,
                              (o_orderkey % 6000) + 4000) AS hi
              FROM orders
              WHERE least(o_custkey % 4000, (o_orderkey % 6000) + 4000)
                    < greatest(o_custkey % 4000,
                               (o_orderkey % 6000) + 4000)),
            adj AS (
              SELECT lo AS w, hi AS u FROM e
              UNION ALL SELECT hi, lo FROM e),
            deg AS (
              SELECT w, CAST(COUNT(*) AS BIGINT) AS deg
              FROM adj GROUP BY w),
            mid AS (
              SELECT a.w, a.u FROM adj a JOIN deg d USING (w)
              WHERE d.deg >= 2 AND d.deg <= 300),
            p AS (
              SELECT a.u AS u, b.u AS v,
                     CAST(COUNT(*) AS BIGINT) AS common
              FROM mid a JOIN mid b ON a.w = b.w AND a.u < b.u
              GROUP BY a.u, b.u HAVING COUNT(*) >= 2),
            sc AS (
              SELECT p.u, p.v, p.common,
                     du.deg AS deg_u, dv.deg AS deg_v,
                     CAST((p.common * 1000000)
                          // (du.deg + dv.deg - p.common) AS BIGINT)
                       AS jaccard_ppm
              FROM p JOIN deg du ON du.w = p.u
                     JOIN deg dv ON dv.w = p.v)
            SELECT u, v, common, deg_u, deg_v, jaccard_ppm FROM sc
            WHERE NOT EXISTS (
              SELECT 1 FROM e WHERE e.lo = sc.u AND e.hi = sc.v)""",
        "q_map_mrr": """
            WITH q0 AS (SELECT vec_id AS vid, label AS lbl,
                               list_transform(embedding,
                                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6
                                             + 0.5) AS BIGINT)) AS q
                        FROM embeddings),
            anchors AS (SELECT vid AS query_id, q AS aq, lbl AS albl
                        FROM q0 ORDER BY vid LIMIT 8),
            scored AS (
              SELECT a.query_id, c.vid,
                     list_sum(list_transform(generate_series(1, 64),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dist2,
                     CASE WHEN c.lbl = a.albl THEN 1 ELSE 0 END AS rel
              FROM q0 c CROSS JOIN anchors a WHERE c.vid <> a.query_id),
            rnked AS (SELECT query_id, rel,
                             row_number() OVER (PARTITION BY query_id
                                                ORDER BY dist2, vid) AS r,
                             SUM(rel) OVER (PARTITION BY query_id
                                            ORDER BY dist2, vid
                                            ROWS UNBOUNDED PRECEDING)
                               AS cum_rel
                      FROM scored),
            rtot AS (SELECT query_id, CAST(SUM(rel) AS BIGINT)
                              AS n_relevant
                     FROM scored GROUP BY query_id),
            perq AS (SELECT query_id,
                       CAST(SUM(CASE WHEN r <= 10 AND rel = 1
                                THEN (cum_rel * 1000000) // r
                                ELSE 0 END) AS BIGINT) AS ap_num_ppm,
                       MIN(CASE WHEN r <= 10 AND rel = 1 THEN r END)
                         AS first_rel
                     FROM rnked GROUP BY query_id)
            SELECT rtot.query_id, n_relevant,
                   CAST(CASE WHEN least(n_relevant, 10) > 0 THEN
                        coalesce(ap_num_ppm, 0) // least(n_relevant, 10)
                        ELSE 0 END AS BIGINT) AS ap_ppm,
                   CAST(CASE WHEN first_rel IS NULL THEN 0
                        ELSE 1000000 // first_rel END AS BIGINT)
                     AS rr_ppm
            FROM rtot LEFT JOIN perq USING (query_id)
            ORDER BY query_id""",
        "q_holm": """
            WITH c AS (SELECT user_id, COUNT(*) AS n
                       FROM events GROUP BY user_id),
            stats AS (SELECT COUNT(*) AS m, SUM(n) AS tot,
                             SUM(n * n) AS tot2
                      FROM c),
            hyp AS (
              SELECT user_id,
                     CASE WHEN n * m - tot = 0 THEN 1000000
                          ELSE least(1000000, CAST(
                            (CAST(m AS HUGEINT) * tot2
                             - CAST(tot AS HUGEINT) * tot) * 1000000
                            // ((CAST(n AS HUGEINT) * m - tot)
                                * (CAST(n AS HUGEINT) * m - tot))
                            AS BIGINT)) END AS p_ppm
              FROM c, stats),
            ranked AS (
              SELECT user_id AS id, p_ppm,
                     row_number() OVER (ORDER BY p_ppm, user_id) AS rnk,
                     COUNT(*) OVER () AS m
              FROM hyp),
            stp AS (SELECT MIN(CASE WHEN p_ppm * (m - rnk + 1) > 100000
                                    THEN rnk END) AS stop
                    FROM ranked)
            SELECT id, p_ppm, rnk,
                   CASE WHEN stop IS NULL THEN TRUE
                        ELSE rnk < stop END AS reject
            FROM ranked, stp""",
        "q_audio_zcr": """
            WITH p AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
                              octet_length(CAST(text AS BLOB)) AS nb
                       FROM documents),
            s AS (SELECT doc_id,
                         list_transform(range(0, nb // 2),
                             i -> CAST(('0x' || substr(h, 4*i + 3, 2)
                                             || substr(h, 4*i + 1, 2))
                                       AS BIGINT)) AS samples
                  FROM p),
            fr AS (SELECT doc_id, (i // 256) AS frame_id, i,
                          v >= 32768 AS hi
                   FROM (SELECT doc_id,
                                generate_subscripts(samples, 1) - 1 AS i,
                                unnest(samples) AS v
                         FROM s)),
            lagd AS (SELECT doc_id, frame_id, hi,
                            lag(hi) OVER (PARTITION BY doc_id, frame_id
                                          ORDER BY i) AS ph
                     FROM fr)
            SELECT doc_id, CAST(frame_id AS INTEGER) AS frame_id,
                   CAST(COUNT(*) AS INTEGER) AS n_samples,
                   CAST(SUM(CASE WHEN ph IS NOT NULL AND hi <> ph
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_crossings
            FROM lagd GROUP BY doc_id, frame_id""",
        "q_hurst": """
            WITH base AS (
              SELECT event_type AS k,
                     CAST(floor(value * 1000000) AS HUGEINT) AS v,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY event_id) AS idx
              FROM events),
            rep AS (SELECT k, v, idx, w,
                           CAST((idx - 1) // w AS BIGINT) AS chunk
                    FROM base, (VALUES (8), (16), (32), (64)) AS ws(w)),
            pr AS (SELECT k, w, chunk,
                     CAST(COUNT(*) OVER (PARTITION BY k, w, chunk)
                          AS HUGEINT) AS n,
                     SUM(v) OVER (PARTITION BY k, w, chunk) AS s,
                     SUM(v * v) OVER (PARTITION BY k, w, chunk) AS ssq,
                     CAST(COUNT(*) OVER (PARTITION BY k, w, chunk)
                          AS HUGEINT)
                       * SUM(v) OVER (PARTITION BY k, w, chunk
                                      ORDER BY idx
                                      ROWS UNBOUNDED PRECEDING)
                     - CAST(row_number() OVER (PARTITION BY k, w, chunk
                                               ORDER BY idx) AS HUGEINT)
                       * SUM(v) OVER (PARTITION BY k, w, chunk) AS ny
                   FROM rep),
            chunks AS (
              SELECT k, w, chunk, ANY_VALUE(n) AS n, ANY_VALUE(s) AS s,
                     ANY_VALUE(ssq) AS ssq, MAX(ny) - MIN(ny) AS rn
              FROM pr GROUP BY 1, 2, 3
              HAVING ANY_VALUE(n) = w
                 AND ANY_VALUE(n) * ANY_VALUE(ssq)
                     - ANY_VALUE(s) * ANY_VALUE(s) > 0),
            rs AS (SELECT k, w,
                     CAST(floor(CAST(rn AS DOUBLE)
                          / sqrt(CAST(n * ssq - s * s AS DOUBLE))
                          * 1e6) AS BIGINT) AS rs_ppm
                   FROM chunks),
            pw2 AS (SELECT k, w,
                      CAST(SUM(rs_ppm) // COUNT(*) AS BIGINT)
                        AS mean_rs_ppm
                    FROM rs GROUP BY 1, 2),
            pts AS (SELECT k,
                      CAST(floor(ln(CAST(w AS DOUBLE)) * 1e6)
                           AS HUGEINT) AS x,
                      CAST(floor(ln(CAST(mean_rs_ppm AS DOUBLE)) * 1e6)
                           AS HUGEINT) AS y
                    FROM pw2),
            reg AS (SELECT k, CAST(COUNT(*) AS HUGEINT) AS m,
                           SUM(x) AS sx, SUM(y) AS sy,
                           SUM(x * y) AS sxy, SUM(x * x) AS sxx
                    FROM pts GROUP BY k)
            SELECT k AS etype, CAST(m AS BIGINT) AS n_levels,
                   CASE WHEN m * sxx - sx * sx = 0 THEN NULL
                        ELSE CAST(((m * sxy - sx * sy) * 1000000)
                             // (m * sxx - sx * sx) AS BIGINT)
                        END AS hurst_ppm
            FROM reg""",
        "q_isotonic": """
            WITH levels AS (
              SELECT CAST(n_chars // 100 AS BIGINT) AS score,
                     CAST(COUNT(*) AS BIGINT) AS c,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS s
              FROM documents GROUP BY 1),
            pre AS (SELECT score, c, s,
                           SUM(c) OVER (ORDER BY score) AS cc,
                           SUM(s) OVER (ORDER BY score) AS cs
                    FROM levels),
            iv AS (
              SELECT j.score AS j, k.score AS k,
                     CAST(k.cs - (j.cs - j.s) AS DOUBLE)
                     / CAST(k.cc - (j.cc - j.c) AS DOUBLE) AS avg
              FROM pre j JOIN pre k ON j.score <= k.score),
            m AS (SELECT j, k AS i,
                         MIN(avg) OVER (PARTITION BY j ORDER BY k DESC
                                        ROWS UNBOUNDED PRECEDING) AS mn
                  FROM iv),
            fit AS (SELECT i AS score, mx FROM (
                      SELECT i, j,
                             MAX(mn) OVER (PARTITION BY i ORDER BY j
                                           ROWS UNBOUNDED PRECEDING)
                               AS mx
                      FROM m) WHERE j = i)
            SELECT levels.score AS score, c AS n, s AS n_pos,
                   CAST(floor(mx * 1e6) AS BIGINT) AS fit_ppm
            FROM levels JOIN fit USING (score)""",
        "q_quadratic_fit": """
            WITH daily AS (
              SELECT CAST(datediff('day', DATE '1995-01-01',
                                   o_orderdate) AS HUGEINT) AS x,
                     CAST(SUM(CAST(round(o_totalprice * 100, 0)
                              AS BIGINT)) AS HUGEINT) AS y
              FROM orders GROUP BY 1),
            mom AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                           CAST(SUM(x) AS DOUBLE) AS sx,
                           CAST(SUM(x * x) AS DOUBLE) AS sx2,
                           CAST(SUM(x * x * x) AS DOUBLE) AS sx3,
                           CAST(SUM(x * x * x * x) AS DOUBLE) AS sx4,
                           CAST(SUM(y) AS DOUBLE) AS sy,
                           CAST(SUM(x * y) AS DOUBLE) AS sxy,
                           CAST(SUM(x * x * y) AS DOUBLE) AS sx2y
                    FROM daily),
            dets AS (SELECT n,
                       n * (sx2 * sx4 - sx3 * sx3)
                       - sx * (sx * sx4 - sx3 * sx2)
                       + sx2 * (sx * sx3 - sx2 * sx2) AS det,
                       sy * (sx2 * sx4 - sx3 * sx3)
                       - sx * (sxy * sx4 - sx3 * sx2y)
                       + sx2 * (sxy * sx3 - sx2 * sx2y) AS det0,
                       n * (sxy * sx4 - sx2y * sx3)
                       - sy * (sx * sx4 - sx3 * sx2)
                       + sx2 * (sx * sx2y - sxy * sx2) AS det1,
                       n * (sx2 * sx2y - sxy * sx3)
                       - sx * (sx * sx2y - sxy * sx2)
                       + sy * (sx * sx3 - sx2 * sx2) AS det2
                     FROM mom)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(floor(det0 / det * 1e6) AS BIGINT) AS b0_ppm,
                   CAST(floor(det1 / det * 1e6) AS BIGINT) AS b1_ppm,
                   CAST(floor(det2 / det * 1e6) AS BIGINT) AS b2_ppm
            FROM dets""",
        "q_auc_delong": """
            WITH g AS (
              SELECT n_chars AS score,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS npos,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                          AS BIGINT) AS nneg
              FROM documents GROUP BY 1),
            c AS (
              SELECT npos, nneg,
                     COALESCE(SUM(nneg) OVER (ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS cneg,
                     COALESCE(SUM(npos) OVER (ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS cpos
              FROM g),
            tot AS (SELECT CAST(SUM(npos) AS HUGEINT) AS np,
                           CAST(SUM(nneg) AS HUGEINT) AS nn
                    FROM c),
            wb AS (SELECT np, nn,
                          CAST(npos AS HUGEINT) AS nposd,
                          CAST(nneg AS HUGEINT) AS nnegd,
                          CAST(2 * cneg + nneg AS HUGEINT) AS a,
                          CAST(2 * (np - cpos - npos) + npos
                               AS HUGEINT) AS b
                   FROM c, tot),
            s AS (SELECT ANY_VALUE(np) AS np, ANY_VALUE(nn) AS nn,
                         SUM(nposd * a) AS a1, SUM(nposd * a * a) AS a2,
                         SUM(nnegd * b) AS b1, SUM(nnegd * b * b) AS b2
                  FROM wb),
            d AS (SELECT CAST(np AS BIGINT) AS n_pos,
                         CAST(nn AS BIGINT) AS n_neg,
                         CAST(a1 AS DOUBLE)
                           / (2.0 * CAST(np AS DOUBLE)
                              * CAST(nn AS DOUBLE)) AS auc,
                         sqrt(
                           (CAST(a2 AS DOUBLE)
                            - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE)
                              / CAST(np AS DOUBLE))
                           / ((2.0 * CAST(nn AS DOUBLE))
                              * (2.0 * CAST(nn AS DOUBLE))
                              * (CAST(np AS DOUBLE) - 1.0))
                           / CAST(np AS DOUBLE)
                           + (CAST(b2 AS DOUBLE)
                              - CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                                / CAST(nn AS DOUBLE))
                             / ((2.0 * CAST(np AS DOUBLE))
                                * (2.0 * CAST(np AS DOUBLE))
                                * (CAST(nn AS DOUBLE) - 1.0))
                             / CAST(nn AS DOUBLE)) AS se
                  FROM s)
            SELECT n_pos, n_neg,
                   CAST(floor(auc * 1e6) AS BIGINT) AS auc_ppm,
                   CAST(floor(se * 1e6) AS BIGINT) AS se_ppm,
                   greatest(CAST(floor((auc - 1.959964 * se) * 1e6)
                                 AS BIGINT), 0) AS lo_ppm,
                   least(CAST(floor((auc + 1.959964 * se) * 1e6)
                              AS BIGINT), 1000000) AS hi_ppm
            FROM d""",
        "q_stratified_kfold": """
            SELECT doc_id, lang,
                   CAST((row_number() OVER (
                        PARTITION BY lang
                        ORDER BY CAST(('0x' || substr(md5('kfold'
                                 || CAST(doc_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) ASC,
                                 CAST(doc_id AS VARCHAR) ASC) - 1) % 5
                        AS INTEGER) AS fold
            FROM documents""",
        "q_rolling_quantile": """
            WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(floor(value * 100) AS BIGINT) // 100 AS b,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
            days AS (SELECT DISTINCT day AS tday FROM daily),
            span AS (
              SELECT d.tday, m.b, m.c
              FROM daily m JOIN days d
                ON d.tday >= m.day
               AND d.tday < m.day + INTERVAL 7 DAY),
            merged AS (SELECT tday, b, CAST(SUM(c) AS BIGINT) AS wc
                       FROM span GROUP BY 1, 2),
            scored AS (
              SELECT tday, b,
                     SUM(wc) OVER (PARTITION BY tday ORDER BY b
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                     SUM(wc) OVER (PARTITION BY tday) AS tot
              FROM merged),
            hit AS (SELECT tday, b, tot,
                           row_number() OVER (PARTITION BY tday
                                              ORDER BY b) AS rn
                    FROM scored
                    WHERE cum * 1000000 >= tot * 950000)
            SELECT tday AS day, CAST(tot AS BIGINT) AS n_window,
                   CAST(b * 100 AS BIGINT) AS p_lo
            FROM hit WHERE rn = 1""",
        "q_script_profile": """
            WITH t AS (SELECT doc_id, COALESCE(text, '') AS tx
                       FROM documents),
            c AS (SELECT doc_id,
                    CAST(length(tx) AS BIGINT) AS n_chars,
                    CAST(length(tx) - length(regexp_replace(tx,
                         '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
                    CAST(length(tx) - length(regexp_replace(tx,
                         '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
                    CAST(length(tx) - length(regexp_replace(tx,
                         '[ \t\n\r]', '', 'g')) AS BIGINT) AS n_space,
                    CAST(length(tx) - length(regexp_replace(tx,
                         '[一-鿿]', '', 'g')) AS BIGINT)
                      AS n_cjk
                  FROM t)
            SELECT doc_id, n_chars, n_latin, n_digit, n_space, n_cjk,
                   n_chars - n_latin - n_digit - n_space - n_cjk
                     AS n_other,
                   CASE WHEN n_latin >= n_cjk AND n_latin >= n_digit
                             AND n_latin >= (n_chars - n_latin - n_digit
                                             - n_space - n_cjk)
                        THEN 'latin'
                        WHEN n_cjk >= n_digit
                             AND n_cjk >= (n_chars - n_latin - n_digit
                                           - n_space - n_cjk)
                        THEN 'cjk'
                        WHEN n_digit >= (n_chars - n_latin - n_digit
                                         - n_space - n_cjk)
                        THEN 'digit'
                        ELSE 'other' END AS dominant
            FROM c""",
        "q_diff_in_diff": """
            WITH cells AS (
              SELECT CAST(user_id % 2 AS INTEGER) AS arm,
                     CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1
                          ELSE 0 END AS post,
                     CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                          AS HUGEINT) AS s,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT))
                          AS HUGEINT) AS ss
              FROM events GROUP BY 1, 2),
            one AS (SELECT
                MAX(CASE WHEN arm=0 AND post=0 THEN n END) AS n00,
                MAX(CASE WHEN arm=0 AND post=0 THEN s END) AS s00,
                MAX(CASE WHEN arm=0 AND post=0 THEN ss END) AS ss00,
                MAX(CASE WHEN arm=0 AND post=1 THEN n END) AS n01,
                MAX(CASE WHEN arm=0 AND post=1 THEN s END) AS s01,
                MAX(CASE WHEN arm=0 AND post=1 THEN ss END) AS ss01,
                MAX(CASE WHEN arm=1 AND post=0 THEN n END) AS n10,
                MAX(CASE WHEN arm=1 AND post=0 THEN s END) AS s10,
                MAX(CASE WHEN arm=1 AND post=0 THEN ss END) AS ss10,
                MAX(CASE WHEN arm=1 AND post=1 THEN n END) AS n11,
                MAX(CASE WHEN arm=1 AND post=1 THEN s END) AS s11,
                MAX(CASE WHEN arm=1 AND post=1 THEN ss END) AS ss11
              FROM cells),
            d AS (SELECT
                CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n,
                (CAST(s11 AS DOUBLE)/CAST(n11 AS DOUBLE)
                 - CAST(s10 AS DOUBLE)/CAST(n10 AS DOUBLE))
                - (CAST(s01 AS DOUBLE)/CAST(n01 AS DOUBLE)
                   - CAST(s00 AS DOUBLE)/CAST(n00 AS DOUBLE)) AS did,
                sqrt(
                  (CAST(ss11 AS DOUBLE) - CAST(s11 AS DOUBLE)
                     * CAST(s11 AS DOUBLE)/CAST(n11 AS DOUBLE))
                    / (CAST(n11 AS DOUBLE) - 1.0)
                    / CAST(n11 AS DOUBLE)
                  + (CAST(ss10 AS DOUBLE) - CAST(s10 AS DOUBLE)
                       * CAST(s10 AS DOUBLE)/CAST(n10 AS DOUBLE))
                    / (CAST(n10 AS DOUBLE) - 1.0)
                    / CAST(n10 AS DOUBLE)
                  + (CAST(ss01 AS DOUBLE) - CAST(s01 AS DOUBLE)
                       * CAST(s01 AS DOUBLE)/CAST(n01 AS DOUBLE))
                    / (CAST(n01 AS DOUBLE) - 1.0)
                    / CAST(n01 AS DOUBLE)
                  + (CAST(ss00 AS DOUBLE) - CAST(s00 AS DOUBLE)
                       * CAST(s00 AS DOUBLE)/CAST(n00 AS DOUBLE))
                    / (CAST(n00 AS DOUBLE) - 1.0)
                    / CAST(n00 AS DOUBLE)) AS se
              FROM one)
            SELECT n,
                   CAST(floor(did * 1e6) AS BIGINT) AS did_ppm,
                   CAST(floor(se * 1e6) AS BIGINT) AS se_ppm,
                   CAST(floor(did / se * 1e6) AS BIGINT) AS z_ppm
            FROM d""",
        "q_ngram_coverage": """
            WITH w AS (SELECT doc_id, source,
                              string_split(text, ' ') AS ws
                       FROM documents),
            sh AS (
              SELECT doc_id, source,
                     unnest(list_distinct(list_transform(
                       range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' '
                            || ws[i+2]))) AS s
              FROM w WHERE len(ws) >= 3),
            tr AS (SELECT DISTINCT s FROM sh
                   WHERE source NOT IN ('src0', 'src1')),
            ev AS (SELECT doc_id, s FROM sh
                   WHERE source IN ('src0', 'src1')),
            j AS (SELECT ev.doc_id,
                         CASE WHEN tr.s IS NULL THEN 0 ELSE 1 END AS hit
                  FROM ev LEFT JOIN tr ON ev.s = tr.s)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(hit) AS BIGINT) AS n_covered,
                   CAST((SUM(hit) * 1000000) // COUNT(*) AS BIGINT)
                     AS coverage_ppm
            FROM j GROUP BY doc_id""",
        "q_hill_tail": """
            WITH top AS (
              SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
              FROM orders ORDER BY 1 DESC LIMIT 200),
            wm AS (SELECT x, MIN(x) OVER () AS xk FROM top),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                         CAST(MAX(xk) AS BIGINT) AS x_k,
                         CAST(SUM(CAST(floor(
                             (ln(CAST(x AS DOUBLE))
                              - ln(CAST(xk AS DOUBLE))) * 1e6)
                             AS BIGINT)) AS HUGEINT) AS slr
                  FROM wm)
            SELECT k, x_k,
                   CASE WHEN slr > 0 THEN
                        CAST((CAST(k AS HUGEINT) * 1000000 * 1000000)
                             // slr AS BIGINT)
                        ELSE NULL END AS alpha_ppm
            FROM s""",
        "q_ams_f2": _ams_f2_oracle(),
        "q_ktruss": _ktruss_oracle(),
        "q_betweenness": _betweenness_oracle(),
        "q_relative_risk": """
            WITH cells AS (
              SELECT CAST(SUM(CASE WHEN n_chars >= 500 AND lang = 'en'
                              THEN 1 ELSE 0 END) AS BIGINT) AS a,
                     CAST(SUM(CASE WHEN n_chars >= 500 AND lang <> 'en'
                              THEN 1 ELSE 0 END) AS BIGINT) AS b,
                     CAST(SUM(CASE WHEN n_chars < 500 AND lang = 'en'
                              THEN 1 ELSE 0 END) AS BIGINT) AS c,
                     CAST(SUM(CASE WHEN n_chars < 500 AND lang <> 'en'
                              THEN 1 ELSE 0 END) AS BIGINT) AS d
              FROM documents),
            est AS (SELECT a, b, c, d,
                      ln(CAST(a AS DOUBLE) * CAST(c + d AS DOUBLE)
                         / (CAST(c AS DOUBLE)
                            * CAST(a + b AS DOUBLE))) AS lnrr,
                      sqrt(1.0 / CAST(a AS DOUBLE)
                           - 1.0 / CAST(a + b AS DOUBLE)
                           + 1.0 / CAST(c AS DOUBLE)
                           - 1.0 / CAST(c + d AS DOUBLE)) AS se_rr,
                      ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                         / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                        AS lnor,
                      sqrt(1.0 / CAST(a AS DOUBLE)
                           + 1.0 / CAST(b AS DOUBLE)
                           + 1.0 / CAST(c AS DOUBLE)
                           + 1.0 / CAST(d AS DOUBLE)) AS se_or,
                      (a = 0 OR b = 0 OR c = 0 OR d = 0) AS zz
                    FROM cells)
            SELECT a, b, c, d,
                   CASE WHEN c = 0 OR a + b = 0 THEN NULL ELSE
                     CAST((CAST(a AS HUGEINT) * (c + d) * 1000000)
                          // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT)
                     END AS rr_ppm,
                   CASE WHEN b = 0 OR c = 0 THEN NULL ELSE
                     CAST((CAST(a AS HUGEINT) * d * 1000000)
                          // (CAST(b AS HUGEINT) * c) AS BIGINT)
                     END AS or_ppm,
                   CASE WHEN zz THEN NULL ELSE
                     CAST(floor(exp(lnrr + -1.959964 * se_rr) * 1e6)
                          AS BIGINT) END AS rr_lo_ppm,
                   CASE WHEN zz THEN NULL ELSE
                     CAST(floor(exp(lnrr + 1.959964 * se_rr) * 1e6)
                          AS BIGINT) END AS rr_hi_ppm,
                   CASE WHEN zz THEN NULL ELSE
                     CAST(floor(exp(lnor + -1.959964 * se_or) * 1e6)
                          AS BIGINT) END AS or_lo_ppm,
                   CASE WHEN zz THEN NULL ELSE
                     CAST(floor(exp(lnor + 1.959964 * se_or) * 1e6)
                          AS BIGINT) END AS or_hi_ppm
            FROM est""",
        "q_two_prop_z": """
            WITH cells AS (
              SELECT CAST(user_id % 2 AS INTEGER) AS arm,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS k
              FROM events GROUP BY 1),
            a AS (SELECT n AS na, k AS ka FROM cells
                  WHERE arm = (SELECT MIN(arm) FROM cells)),
            b AS (SELECT n AS nb, k AS kb FROM cells
                  WHERE arm = (SELECT MAX(arm) FROM cells)),
            m AS (SELECT * FROM a, b),
            d AS (SELECT na, nb, ka, kb,
                    CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
                    CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
                    CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE)
                      AS pp
                  FROM m)
            SELECT na AS n_a, nb AS n_b, ka AS k_a, kb AS k_b,
                   CAST(floor((pa - pb) * 1e6) AS BIGINT) AS diff_ppm,
                   CAST(floor((pa - pb)
                        / sqrt(pp * (1.0 - pp)
                               * (1.0 / CAST(na AS DOUBLE)
                                  + 1.0 / CAST(nb AS DOUBLE)))
                        * 1e6) AS BIGINT) AS z_ppm
            FROM d""",
        "q_gini_split": """
            WITH g AS (
              SELECT n_chars AS score,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS npos,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                          AS BIGINT) AS nneg
              FROM documents GROUP BY 1),
            c AS (SELECT score,
                         SUM(npos) OVER (ORDER BY score DESC
                             ROWS UNBOUNDED PRECEDING) AS lp,
                         SUM(nneg) OVER (ORDER BY score DESC
                             ROWS UNBOUNDED PRECEDING) AS ln,
                         SUM(npos) OVER ()
                           - SUM(npos) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS rp,
                         SUM(nneg) OVER ()
                           - SUM(nneg) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS rn
                  FROM g),
            sc AS (SELECT score, lp, ln, rp, rn,
                     2.0 * (CASE WHEN lp + ln > 0 THEN
                              CAST(lp AS DOUBLE) * CAST(ln AS DOUBLE)
                              / CAST(lp + ln AS DOUBLE) ELSE 0.0 END
                            + CASE WHEN rp + rn > 0 THEN
                              CAST(rp AS DOUBLE) * CAST(rn AS DOUBLE)
                              / CAST(rp + rn AS DOUBLE) ELSE 0.0 END)
                       AS gw
                   FROM c),
            r AS (SELECT *, row_number() OVER (ORDER BY gw ASC,
                               score DESC) AS rnk
                  FROM sc)
            SELECT CAST(score AS BIGINT) AS threshold,
                   CAST(lp AS BIGINT) AS left_pos,
                   CAST(ln AS BIGINT) AS left_neg,
                   CAST(rp AS BIGINT) AS right_pos,
                   CAST(rn AS BIGINT) AS right_neg,
                   CAST(floor(gw * 1e6) AS BIGINT) AS gini_e6
            FROM r WHERE rnk = 1""",
        "q_knee_point": """
            WITH r AS (SELECT n_chars AS v,
                              row_number() OVER (ORDER BY n_chars,
                                                 doc_id) AS rn
                       FROM documents),
            tot AS (SELECT COUNT(*) AS n,
                           SUM(CAST(v AS HUGEINT)) AS mass FROM r),
            binned AS (SELECT CAST((rn - 1) * 10
                                   // (SELECT n FROM tot) AS INTEGER)
                                AS bin,
                              SUM(CAST(v AS HUGEINT)) AS mass
                       FROM r GROUP BY 1),
            cum AS (SELECT bin,
                           SUM(mass) OVER (ORDER BY bin
                                       ROWS UNBOUNDED PRECEDING)
                             AS cum_mass
                    FROM binned),
            pts AS (SELECT CAST(bin AS HUGEINT) AS x,
                           CAST((CAST(cum_mass AS HUGEINT) * 1000000)
                                // (SELECT mass FROM tot) AS HUGEINT)
                             AS y
                    FROM cum),
            sp AS (SELECT x, y,
                          MIN(x) OVER () AS xmin, MAX(x) OVER () AS xmax,
                          MIN(y) OVER () AS ymin, MAX(y) OVER () AS ymax
                   FROM pts),
            sc AS (SELECT x, y,
                          (y - ymin) * (xmax - xmin)
                          - (x - xmin) * (ymax - ymin) AS num,
                          (xmax - xmin) * (ymax - ymin) AS den
                   FROM sp),
            best AS (SELECT x, y, num, den,
                            row_number() OVER (ORDER BY num DESC, x ASC)
                              AS rn
                     FROM sc)
            SELECT CAST(x AS BIGINT) AS knee_x,
                   CAST(y AS BIGINT) AS knee_y,
                   CAST(CASE WHEN den = 0 THEN 0
                        ELSE (num * 1000000) // den END AS BIGINT)
                     AS score_e6
            FROM best WHERE rn = 1""",
        "q_mde_power": """
            WITH arms AS (
              SELECT CAST(user_id % 2 AS INTEGER) AS arm,
                     CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                          AS HUGEINT) AS s,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT))
                          AS HUGEINT) AS ss
              FROM events GROUP BY 1),
            a AS (SELECT n AS na, s AS sa, ss AS ssa FROM arms
                  WHERE arm = (SELECT MIN(arm) FROM arms)),
            b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM arms
                  WHERE arm = (SELECT MAX(arm) FROM arms)),
            m AS (SELECT * FROM a, b),
            d AS (SELECT na, nb, sa, sb,
                    (CAST(ssa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                       / CAST(na AS DOUBLE))
                    / (CAST(na AS DOUBLE) - 1.0) AS var_a,
                    (CAST(ssb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                       / CAST(nb AS DOUBLE))
                    / (CAST(nb AS DOUBLE) - 1.0) AS var_b
                  FROM m)
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   CAST(sa // na AS BIGINT) AS mean_a_e2,
                   CAST(sb // nb AS BIGINT) AS mean_b_e2,
                   CAST(floor(2.801585
                        * sqrt(var_a / CAST(na AS DOUBLE)
                               + var_b / CAST(nb AS DOUBLE)))
                        AS BIGINT) AS mde_e2,
                   CAST(ceil(2.0 * 2.801585 * 2.801585
                        * ((var_a + var_b) / 2.0)
                        / ((CAST(sa + sb AS DOUBLE)
                            / CAST(na + nb AS DOUBLE) * 0.01)
                           * (CAST(sa + sb AS DOUBLE)
                              / CAST(na + nb AS DOUBLE) * 0.01)))
                        AS BIGINT) AS n_per_arm_1pct
            FROM d""",
        "q_conformal": """
            WITH base AS (
              SELECT o_orderkey AS id, o_orderpriority AS g,
                     CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
                     CAST(('0x' || substr(md5('conformal'
                          || CAST(o_orderkey AS VARCHAR)), 1, 15))
                          AS BIGINT) % 3 AS part
              FROM orders),
            means AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS nf,
                             CAST(CAST(SUM(v) AS HUGEINT)
                                  // COUNT(*) AS BIGINT) AS pred
                      FROM base WHERE part = 0 GROUP BY g),
            cal AS (SELECT abs(v - pred) AS resid
                    FROM base JOIN means USING (g) WHERE part = 1),
            rc AS (SELECT resid, CAST(COUNT(*) AS BIGINT) AS c
                   FROM cal GROUP BY resid),
            cum AS (SELECT resid,
                           SUM(c) OVER (ORDER BY resid) AS cum,
                           SUM(c) OVER () AS n_cal
                    FROM rc),
            qrel AS (SELECT resid AS qhat, CAST(n_cal AS BIGINT)
                              AS n_cal
                     FROM cum
                     WHERE cum >= least(
                       ((n_cal + 1) * 900000 + 999999) // 1000000,
                       n_cal)
                     ORDER BY resid LIMIT 1),
            test AS (SELECT v, pred FROM base JOIN means USING (g)
                     WHERE part = 2),
            cov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
                           CAST(SUM(CASE WHEN abs(v - pred) <= qhat
                                    THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_in,
                           ANY_VALUE(qhat) AS qhat,
                           ANY_VALUE(n_cal) AS n_cal
                    FROM test, qrel),
            nfit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fit
                     FROM base WHERE part = 0)
            SELECT n_fit, n_cal, n_test, qhat,
                   CAST((n_in * 1000000) // n_test AS BIGINT)
                     AS coverage_ppm,
                   CAST(900000 AS BIGINT) AS target_ppm
            FROM cov, nfit""",
        "q_ucb_ranking": """
            WITH arms AS (
              SELECT event_type AS arm, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                          AS HUGEINT) AS s
              FROM events GROUP BY 1),
            tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM arms),
            scored AS (
              SELECT arm, n, CAST(s // n AS BIGINT) AS mean_e2,
                     CAST(s // n AS BIGINT)
                     + CAST(floor(sqrt(2.0
                           * ln(CAST(nn AS DOUBLE))
                           / CAST(n AS DOUBLE)) * 100.0) AS BIGINT)
                       AS ucb_e2
              FROM arms, tot)
            SELECT arm, n, mean_e2, ucb_e2,
                   CAST(row_number() OVER (ORDER BY ucb_e2 DESC, arm)
                        AS INTEGER) AS rank
            FROM scored ORDER BY rank""",
        "q_log_odds": """
            WITH toks AS (
              SELECT lang = 'en' AS is_a,
                     unnest(string_split(text, ' ')) AS term
              FROM documents WHERE lang IN ('en', 'es')),
            counts AS (
              SELECT term,
                     CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END)
                          AS BIGINT) AS cb
              FROM toks WHERE term <> '' GROUP BY term),
            tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                           CAST(SUM(cb) AS BIGINT) AS nb,
                           CAST(COUNT(*) AS BIGINT) AS v
                    FROM counts)
            SELECT term, ca AS cnt_a, cb AS cnt_b,
                   CAST(floor(
                     (ln(CAST(ca * 1000 + 1000 AS DOUBLE))
                      - ln(CAST(na * 1000 + v * 1000
                                - (ca * 1000 + 1000) AS DOUBLE))
                      - ln(CAST(cb * 1000 + 1000 AS DOUBLE))
                      + ln(CAST(nb * 1000 + v * 1000
                                - (cb * 1000 + 1000) AS DOUBLE)))
                     / sqrt(1000.0 / CAST(ca * 1000 + 1000 AS DOUBLE)
                            + 1000.0 / CAST(cb * 1000 + 1000 AS DOUBLE))
                     * 1e6) AS BIGINT) AS z_ppm
            FROM counts, tot WHERE ca + cb >= 5""",
        "q_rolling_anomaly": """
            WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                          AS BIGINT) AS v
              FROM events GROUP BY 1),
            span AS (
              SELECT d.day AS tday, m.v AS wv, m.day AS sday
              FROM daily m JOIN daily d
                ON d.day >= m.day AND d.day < m.day + INTERVAL 7 DAY),
            med AS (SELECT tday AS day, wv AS med FROM (
                      SELECT tday, wv,
                             row_number() OVER (PARTITION BY tday
                                 ORDER BY wv, sday) AS rn,
                             COUNT(*) OVER (PARTITION BY tday) AS n
                      FROM span) WHERE rn = (n + 1) // 2),
            resid AS (SELECT daily.day, v, med AS med_trailing,
                             v - med AS r
                      FROM daily JOIN med USING (day)),
            medr AS (SELECT r AS med_r FROM (
                       SELECT r,
                              row_number() OVER (ORDER BY r, day) AS rn,
                              COUNT(*) OVER () AS n
                       FROM resid) WHERE rn = (n + 1) // 2),
            dev AS (SELECT resid.*, abs(r - med_r) AS ad
                    FROM resid, medr),
            mad AS (SELECT ad AS mad FROM (
                      SELECT ad,
                             row_number() OVER (ORDER BY ad, day) AS rn,
                             COUNT(*) OVER () AS n
                      FROM dev) WHERE rn = (n + 1) // 2)
            SELECT day, v, med_trailing, r AS residual,
                   ad * 1000000 > 3000000 * mad AS is_anomaly
            FROM dev, mad""",
        "q_negative_sampling": """
            WITH wt AS (
              SELECT source,
                     CAST(floor(pow(CAST(COUNT(*) AS DOUBLE), 0.75)
                          * 1e3) AS BIGINT) AS w
              FROM documents GROUP BY source),
            cum AS (SELECT source, w,
                           SUM(w) OVER (ORDER BY source) - w AS lo,
                           SUM(w) OVER (ORDER BY source) AS hi
                    FROM wt),
            tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM wt),
            draws AS (SELECT doc_id, t.slot
                      FROM documents,
                           (VALUES (0), (1), (2)) AS t(slot)),
            h AS (SELECT doc_id, slot,
                         CAST(('0x' || substr(md5('choice_'
                              || CAST(doc_id AS VARCHAR) || '_'
                              || CAST(slot AS VARCHAR)), 1, 15))
                              AS BIGINT) % (SELECT wtot FROM tot) AS hh
                  FROM draws)
            SELECT doc_id, CAST(slot AS INTEGER) AS slot,
                   c.source AS neg_source
            FROM h JOIN cum c ON h.hh >= c.lo AND h.hh < c.hi""",
        "q_preference_pairs": """
            WITH base AS (SELECT source AS g, doc_id AS id,
                                 CAST(n_chars AS BIGINT) AS s
                          FROM documents),
            top AS (SELECT g, id AS chosen_id, s AS chosen_score FROM (
                      SELECT g, id, s,
                             row_number() OVER (PARTITION BY g
                                 ORDER BY s DESC, id ASC) AS rn
                      FROM base) WHERE rn <= 3),
            bot AS (SELECT g, id AS rejected_id, s AS rejected_score
                    FROM (
                      SELECT g, id, s,
                             row_number() OVER (PARTITION BY g
                                 ORDER BY s ASC, id ASC) AS rn
                      FROM base) WHERE rn <= 3)
            SELECT top.g AS source, chosen_id, rejected_id,
                   chosen_score, rejected_score,
                   chosen_score - rejected_score AS gap
            FROM top JOIN bot USING (g)
            WHERE chosen_score - rejected_score >= 50
              AND chosen_id <> rejected_id""",
        "q_truncated_recall": """
            WITH q0 AS (SELECT vec_id AS vid,
                               list_transform(embedding,
                                   x -> CAST(floor(CAST(x AS DOUBLE)
                                        * 1e6 + 0.5) AS BIGINT)) AS q
                        FROM embeddings),
            anchors AS (SELECT vid AS query_id, q AS aq
                        FROM q0 ORDER BY vid LIMIT 8),
            scored AS (
              SELECT a.query_id, c.vid,
                     list_sum(list_transform(generate_series(1, 64),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dfull,
                     list_sum(list_transform(generate_series(1, 16),
                         i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i])))
                       AS dtrunc
              FROM q0 c CROSS JOIN anchors a WHERE c.vid <> a.query_id),
            ft AS (SELECT query_id, vid FROM (
                     SELECT query_id, vid,
                            row_number() OVER (PARTITION BY query_id
                                ORDER BY dfull, vid) AS rf
                     FROM scored) WHERE rf <= 10),
            tt AS (SELECT query_id, vid FROM (
                     SELECT query_id, vid,
                            row_number() OVER (PARTITION BY query_id
                                ORDER BY dtrunc, vid) AS rt
                     FROM scored) WHERE rt <= 10),
            hits AS (SELECT ft.query_id,
                            CAST(COUNT(*) AS BIGINT) AS n_hit
                     FROM ft JOIN tt USING (query_id, vid)
                     GROUP BY ft.query_id)
            SELECT q.query_id, CAST(10 AS INTEGER) AS k,
                   COALESCE(n_hit, 0) AS n_hit,
                   CAST(COALESCE(n_hit, 0) * 1000000 // 10 AS BIGINT)
                     AS recall_ppm
            FROM (SELECT DISTINCT query_id FROM ft) q
            LEFT JOIN hits USING (query_id)
            ORDER BY query_id""",
        "q_sprt": """
            WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS kk
              FROM events GROUP BY 1),
            cum AS (SELECT day,
                           SUM(n) OVER (ORDER BY day) AS n_cum,
                           SUM(kk) OVER (ORDER BY day) AS k_cum
                    FROM daily)
            SELECT day, CAST(n_cum AS BIGINT) AS n_cum,
                   CAST(k_cum AS BIGINT) AS k_cum,
                   CAST(k_cum * 510825
                        + (n_cum - k_cum) * -125164 AS BIGINT) AS llr_e6,
                   CASE WHEN k_cum * 510825
                             + (n_cum - k_cum) * -125164 >= 2890371
                        THEN 'reject_h0'
                        WHEN k_cum * 510825
                             + (n_cum - k_cum) * -125164 <= -2251292
                        THEN 'accept_h0'
                        ELSE 'continue' END AS decision
            FROM cum""",
        "q_forecast_backtest": """
            WITH daily AS (
              SELECT event_type AS k,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                          AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            sc AS (SELECT k,
                          v - lag(v, 7) OVER (PARTITION BY k
                                              ORDER BY day) AS es,
                          v - lag(v, 1) OVER (PARTITION BY k
                                              ORDER BY day) AS en
                   FROM daily),
            f AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_scored,
                         CAST(SUM(abs(es)) AS HUGEINT) AS sae_s,
                         CAST(SUM(abs(en)) AS HUGEINT) AS sae_n
                  FROM sc WHERE es IS NOT NULL AND en IS NOT NULL
                  GROUP BY k)
            SELECT k AS etype, n_scored,
                   CAST(sae_s // n_scored AS BIGINT)
                     AS mae_seasonal_e2,
                   CAST(sae_n // n_scored AS BIGINT) AS mae_naive_e2,
                   CASE WHEN sae_n = 0 THEN NULL
                        ELSE CAST((sae_s * 1000000) // sae_n AS BIGINT)
                        END AS mase_ppm
            FROM f""",
        "q_best_f1": """
            WITH g AS (
              SELECT n_chars AS score,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS npos,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                          AS BIGINT) AS nneg
              FROM documents GROUP BY 1),
            c AS (SELECT score,
                         SUM(npos) OVER (ORDER BY score DESC
                             ROWS UNBOUNDED PRECEDING) AS tp,
                         SUM(nneg) OVER (ORDER BY score DESC
                             ROWS UNBOUNDED PRECEDING) AS fp,
                         SUM(npos) OVER ()
                           - SUM(npos) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS fn
                  FROM g),
            r AS (SELECT score, tp, fp, fn,
                         row_number() OVER (
                           ORDER BY CAST(2 * tp AS DOUBLE)
                                    / CAST(2 * tp + fp + fn AS DOUBLE)
                                    DESC,
                                    score DESC) AS rn
                  FROM c)
            SELECT CAST(score AS BIGINT) AS threshold,
                   CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn,
                   CAST(CASE WHEN tp + fp = 0 THEN 0
                        ELSE (tp * 1000000) // (tp + fp) END AS BIGINT)
                     AS precision_ppm,
                   CAST(CASE WHEN tp + fn = 0 THEN 0
                        ELSE (tp * 1000000) // (tp + fn) END AS BIGINT)
                     AS recall_ppm,
                   CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                        ELSE (2 * tp * 1000000)
                             // (2 * tp + fp + fn) END AS BIGINT)
                     AS f1_ppm
            FROM r WHERE rn = 1""",
        "q_paragraph_neardup": f"""
            WITH w0 AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            p0 AS (
              SELECT doc_id, CAST(i AS INT) AS para_idx,
                     array_to_string(ws[i*25+1:i*25+25], ' ') AS para
              FROM (
                SELECT doc_id, ws,
                       unnest(range(0,
                         CAST(floor((len(ws) - 1) / 25) AS BIGINT) + 1)) AS i
                FROM w0)),
            u AS (
              SELECT doc_id * 1000 + para_idx AS unit_id, para
              FROM p0
              WHERE CASE WHEN len(trim(para)) = 0 THEN 0
                         ELSE len(string_split_regex(trim(para), ' +'))
                    END >= 3),
            sh AS (
              SELECT unit_id,
                     unnest(list_distinct(list_transform(
                       range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                       AS shingle
              FROM (SELECT unit_id, string_split(para, ' ') AS ws FROM u)
              WHERE len(ws) >= 3),
            sz AS (SELECT unit_id, COUNT(*) AS sz FROM sh GROUP BY unit_id),
            inter AS (
              SELECT a.unit_id AS ua, b.unit_id AS ub, COUNT(*) AS inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.unit_id < b.unit_id GROUP BY 1, 2),
            jac AS (
              SELECT ua, ub,
                     CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
                       AS jaccard
              FROM inter
              JOIN sz sa ON sa.unit_id = ua
              JOIN sz sb ON sb.unit_id = ub),
            h31 AS (
              SELECT unit_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                         % 2147483647 AS h31
              FROM sh),
            hx AS (
              SELECT unit_id, i,
                     MIN(({_MH_A}[i + 1] * h31 + {_MH_B}[i + 1])
                         % 2147483647) AS sig
              FROM h31, range(32) t(i)
              GROUP BY unit_id, i),
            bands AS (
              SELECT unit_id, CAST(i // 4 AS INTEGER) AS band,
                     md5(string_agg(CAST(sig AS VARCHAR), ','
                         ORDER BY i)) AS bucket
              FROM hx GROUP BY unit_id, CAST(i // 4 AS INTEGER)),
            cand AS (
              SELECT DISTINCT a.unit_id AS ua, b.unit_id AS ub
              FROM bands a JOIN bands b USING (band, bucket)
              WHERE a.unit_id < b.unit_id)
            SELECT CAST(ua // 1000 AS BIGINT) AS doc_a,
                   CAST(ua % 1000 AS INT) AS para_a,
                   CAST(ub // 1000 AS BIGINT) AS doc_b,
                   CAST(ub % 1000 AS INT) AS para_b,
                   jaccard
            FROM cand JOIN jac USING (ua, ub)
            WHERE jaccard >= 0.5""",
        "q_match_length_histogram": """
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(trim(text), ' +') AS ws
              FROM documents),
            g AS (
              SELECT doc_id, CAST(i AS INT) AS start,
                     array_to_string(ws[i:i + 4], ' ') AS gram
              FROM (
                SELECT doc_id, ws,
                       unnest(range(1, len(ws) - 5 + 2)) AS i
                FROM w WHERE len(ws) >= 5)),
            dup AS (
              SELECT gram FROM g GROUP BY gram
              HAVING MIN(doc_id) <> MAX(doc_id)),
            h AS (SELECT g.doc_id, g.start FROM g JOIN dup USING (gram)),
            o AS (
              SELECT doc_id, start,
                     CASE WHEN start >= COALESCE(MAX(start + 5) OVER (
                            PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0)
                          THEN 1 ELSE 0 END AS brk
              FROM h),
            i AS (
              SELECT doc_id, start,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY start)
                       AS gid
              FROM o),
            isl AS (
              SELECT doc_id, gid,
                     MAX(start) + 5 - MIN(start) AS span_len
              FROM i GROUP BY doc_id, gid)
            SELECT CAST(span_len AS BIGINT) AS span_len,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM isl GROUP BY span_len""",
        "q_contamination_matrix": """
            WITH w AS (
              SELECT source, string_split(text, ' ') AS ws
              FROM documents),
            trg AS (
              SELECT source AS train_source,
                     unnest(list_distinct(list_transform(
                       range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                       AS shingle
              FROM w WHERE len(ws) >= 3
                AND source NOT IN ('src0', 'src1')),
            tr AS (
              SELECT DISTINCT train_source,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                       AS gh
              FROM trg),
            evg AS (
              SELECT source AS eval_source,
                     unnest(list_distinct(list_transform(
                       range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                       AS shingle
              FROM w WHERE len(ws) >= 3
                AND source IN ('src0', 'src1')),
            ev AS (
              SELECT DISTINCT eval_source,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                       AS gh
              FROM evg),
            totals AS (
              SELECT eval_source, CAST(COUNT(*) AS BIGINT) AS n_eval_grams
              FROM ev GROUP BY eval_source),
            overlap AS (
              SELECT train_source, eval_source,
                     CAST(COUNT(*) AS BIGINT) AS n_overlap
              FROM ev JOIN tr USING (gh)
              GROUP BY train_source, eval_source),
            dense AS (
              SELECT t.train_source, e.eval_source, e.n_eval_grams
              FROM (SELECT DISTINCT source AS train_source FROM documents
                    WHERE source NOT IN ('src0', 'src1')) t, totals e)
            SELECT d.train_source, d.eval_source,
                   CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
                   d.n_eval_grams,
                   CAST((COALESCE(o.n_overlap, 0) * 1000000)
                        // d.n_eval_grams AS BIGINT) AS contamination_ppm
            FROM dense d LEFT JOIN overlap o
              USING (train_source, eval_source)""",
    }
