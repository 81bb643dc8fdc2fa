"""The Iowa Liquor Sales pipeline, Spark-first.

Reference shape (SURVEY §3): Airflow DAG ``extract >> transform >> load``
(dags/iowa_liquor_dag.py:59-74) + a Postgres session script deriving a star
schema (IowaLiquor-RDS.session.sql:1-182). Here the whole thing is one lazy
Spark application with three materialization points:

- bronze: typed CSV scan of staged pages (no inference)
- silver: coercions + null-fill (src/transform.py:11-23 semantics)
- gold:   five dims + fact_sales with PK/FK validation — the session
  script's six INSERT ... SELECT DISTINCT ... ON CONFLICT DO NOTHING
  statements become distinct + first-wins dedup DataFrames.

Scale: bronze→silver is a single narrow stage; each of the four keyed dims
is one aggregate on its key (one shuffle of the map-side partial minima;
a struct minimum is sort-based, not hashed); dim_date is one distinct;
the fact is a projection plus one window shuffle for its PK dedup.
validate_gold is one Spark action. Gold tables should be written
partitioned (fact by year) and the dims are broadcast at query time —
see operators/joins.star_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.functions.cleansing import to_silver
from iowa_liquor_sales_spark.functions.dates import date_parts
from iowa_liquor_sales_spark.operators.dedup import dedup_rank
from iowa_liquor_sales_spark.schemas import IOWA_INT_COLS, IOWA_NUM_COLS

# Dim column layouts: IowaLiquor-RDS.session.sql:85-156.
DIM_STORE_COLS = [
    "store",
    "name",
    "address",
    "city",
    "zipcode",
    "store_location",
    "county_number",
    "county",
]
DIM_ITEM_COLS = [
    "itemno",
    "im_desc",
    "pack",
    "bottle_volume_ml",
    "state_bottle_cost",
    "state_bottle_retail",
]
DIM_VENDOR_COLS = ["vendor_no", "vendor_name"]
DIM_CATEGORY_COLS = ["category", "category_name"]
FACT_COLS = [
    "invoice_line_no",
    "date",
    "store",
    "itemno",
    "vendor_no",
    "category",
    "sale_bottles",
    "sale_dollars",
    "sale_liters",
    "sale_gallons",
]


def silver(bronze: DataFrame) -> DataFrame:
    """Reference transform stage (C1-C3, src/transform.py:11-23): datetime
    coercion, 8 numeric coercions, null→0 fill. One narrow stage."""
    return to_silver(
        bronze,
        ts_cols=("date",),
        int_cols=IOWA_INT_COLS,
        num_cols=IOWA_NUM_COLS,
    )


def _dim(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """Shared dim recipe (session.sql pattern): WHERE key IS NOT NULL →
    SELECT DISTINCT cols → first-wins one-row-per-key. The winner under
    ``ON CONFLICT DO NOTHING`` is unspecified; here it is deterministic
    (the first row in ascending, nulls-first order of the remaining
    attributes) so rebuilds are idempotent. The minimum of the attribute
    struct is that row, so one aggregate on the key finds it. Float zeros
    are written as 0.0, as SELECT DISTINCT writes them: min() keeps
    whichever of two equal zeros (0.0, -0.0) it meets first."""
    attrs = [c for c in cols if c != key]
    types = dict(df.dtypes)
    first = (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.min(F.struct(*attrs)).alias("__first"))
    )

    def unpack(c: str):
        col = F.col(f"__first.{c}")
        if types[c] in ("double", "float"):
            col = F.when(col == 0, F.lit(0).cast(types[c])).otherwise(col)
        return col.alias(c)

    return first.select(*[c if c == key else unpack(c) for c in cols])


def dim_store(silver_df: DataFrame) -> DataFrame:
    return _dim(silver_df, "store", DIM_STORE_COLS)


def dim_item(silver_df: DataFrame) -> DataFrame:
    return _dim(silver_df, "itemno", DIM_ITEM_COLS)


def dim_vendor(silver_df: DataFrame) -> DataFrame:
    return _dim(silver_df, "vendor_no", DIM_VENDOR_COLS)


def dim_category(silver_df: DataFrame) -> DataFrame:
    return _dim(silver_df, "category", DIM_CATEGORY_COLS)


def dim_date(silver_df: DataFrame) -> DataFrame:
    """session.sql:104-127 — day-trunc date + year/quarter/month + Postgres
    DOW + weekend flag, distinct over non-null dates."""
    return (
        silver_df.filter(F.col("date").isNotNull())
        .select(*date_parts("date"))
        .distinct()
    )


def fact_sales(silver_df: DataFrame) -> DataFrame:
    """session.sql:160-182: fact projection keyed by invoice_line_no with
    first-wins PK dedup, date day-truncated."""
    fact = (
        silver_df.filter(F.col("invoice_line_no").isNotNull())
        .select(*FACT_COLS)
        .withColumn("date", F.to_date("date"))
    )
    return dedup_rank(fact, ["invoice_line_no"], ["date", "store", "itemno"])


def build_gold(silver_df: DataFrame) -> dict[str, DataFrame]:
    return {
        "dim_store": dim_store(silver_df),
        "dim_item": dim_item(silver_df),
        "dim_vendor": dim_vendor(silver_df),
        "dim_category": dim_category(silver_df),
        "dim_date": dim_date(silver_df),
        "fact_sales": fact_sales(silver_df),
    }


# Each dim's primary key; fact_sales carries it as an FK column of the
# same name.
DIM_KEYS = {
    "dim_store": "store",
    "dim_item": "itemno",
    "dim_vendor": "vendor_no",
    "dim_category": "category",
    "dim_date": "date",
}


def validate_gold(gold: dict[str, DataFrame]) -> dict[str, int]:
    """PK/FK checks (reference J1/J2: Postgres constraints,
    session.sql:67-73). Returns violation counts — all zeros on a healthy
    build. All 11 checks are one action that collects one row:

    - each dim is grouped by its key once; that frame gives the dim's PK
      check (keys with count > 1) and, its keys being distinct, the
      broadcast side of the fact's FK probe, so a duplicated dim key
      cannot multiply fact rows. For the four keyed dims both branches
      read one shuffle (exchange reuse);
    - the fact's PK and FK columns are left-joined to the five key sets
      and grouped by invoice_line_no, then reduced to the PK check and,
      per FK, the rows whose non-NULL key found no dim row. On a lazily
      built gold (``build_gold``'s frames) fact_sales' PK dedup already
      partitions by invoice_line_no, so the group-by adds no shuffle; on
      gold read back from storage it costs one shuffle of the six-column
      projection.
    """
    keys = list(DIM_KEYS.values())
    key_counts = {dim: gold[dim].groupBy(key).count() for dim, key in DIM_KEYS.items()}
    probe = gold["fact_sales"].select("invoice_line_no", *keys)
    for dim, key in DIM_KEYS.items():
        hits = key_counts[dim].select(key, F.lit(True).alias(f"__hit_{key}"))
        probe = probe.join(F.broadcast(hits), key, "left")
    misses = [f"fk_{k}" for k in keys]
    per_pk = probe.groupBy("invoice_line_no").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.count_if(F.col(k).isNotNull() & F.col(f"__hit_{k}").isNull()).alias(m)
            for k, m in zip(keys, misses)
        ],
    )
    row = per_pk.agg(
        F.count_if(F.col("__n") > 1).alias("pk_fact"),
        *[F.coalesce(F.sum(m), F.lit(0)).alias(m) for m in misses],
    )
    for dim, counts in key_counts.items():
        row = row.crossJoin(counts.agg(F.count_if(F.col("count") > 1).alias(f"pk_{dim}")))
    names = ["pk_fact", *(f"pk_{dim}" for dim in DIM_KEYS), *misses]
    return {name: int(v) for name, v in zip(names, row.select(*names).collect()[0])}
