"""The benchmark's workloads: what runs in a pass, and how it is checked.

Each workload has a fixed op list. :class:`Workload` subclasses stage
their inputs (:meth:`stage`), run one op by name (:meth:`run_op`), and
check the outputs of a pass against an independent DuckDB computation
(:meth:`check`). Timing, passes, tracing and metrics live in ``run.py``.

- ``etl_star``: the reference's production path on seeded Iowa-shaped CSV
  pages: ``readers.read_csv`` -> bronze parquet, ``plans.iowa.silver`` ->
  silver parquet, ``build_gold`` -> six gold tables, ``validate_gold``, and
  the COPY-wire CSV load of ``fact_sales``.
- ``relational_mix`` / ``curation_mix``: registry queries from
  ``__spark_entry__.queries()`` over a seeded warehouse, each forced with
  the noop sink, their cold-pass rows checked against their
  ``oracle_sql()`` entries. relational_mix also runs ``CURATION_PROBE``.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import datagen

RELATIONAL_OPS = (
    "q_scan_parquet q_groupby_agg q_star_join q_shipping_priority "
    "q_conditional_agg q_cube q_topk_pergroup q_window_running "
    "q_regional_revenue q_global_rank q_order_priority q_grid_quantiles "
    "q_semijoin q_count_distinct q_rollup_year q_fk_violations"
).split()
CURATION_OPS = (
    "q_dedup_exact q_minhash_lsh q_simhash_pairs q_embed_neardup "
    "q_ann_bruteforce q_ann_pq q_token_count q_ngram_jaccard q_pagerank "
    "q_dedup_cascade q_dbscan_grid q_sparse_cosine"
).split()
# One curation query per operator module (the cheapest where a module has
# several), run in relational_mix: a curation_mix run takes ~70 s (a
# 22-28 s cold pass, 11-13 s passes), and 22 runs of each declared
# workload must fit in under an hour. With these five, every operator
# module and the pinned relations are measured on a declared workload.
CURATION_PROBE = ["q_dedup_exact", "q_ann_bruteforce", "q_token_count", "q_pagerank", "q_dbscan_grid"]
ETL_OPS = ["bronze", "silver", "gold", "validate", "load"]

# Input sizes. A run pays ~6 s of JVM start and a 15-30 s cold pass
# before it times anything, and the whole benchmark (22 runs of each
# declared workload) must fit in under an hour, so the inputs are small:
# at these sizes a pass is dominated by per-job planning and scheduling,
# not data volume. Smoke runs use the smallest sizes.
ETL_ROWS, SMOKE_ETL_ROWS = 50_000, 5_000
MIX_SF, SMOKE_MIX_SF = 0.01, 0.001

# Fixed query -> operator-module rollup. "scan" is the one query that
# calls no operator (a typed parquet scan through schemas.read_table).
OP_MODULE = {
    "q_scan_parquet": "scan",
    "q_groupby_agg": "aggregates",
    "q_conditional_agg": "aggregates",
    "q_cube": "aggregates",
    "q_window_running": "aggregates",
    "q_grid_quantiles": "aggregates",
    "q_count_distinct": "aggregates",
    "q_rollup_year": "aggregates",
    "q_star_join": "joins",
    "q_shipping_priority": "joins",
    "q_regional_revenue": "joins",
    "q_order_priority": "joins",
    "q_semijoin": "joins",
    "q_fk_violations": "joins",
    "q_topk_pergroup": "ranking",
    "q_global_rank": "ranking",
    "q_dedup_exact": "dedup",
    "q_minhash_lsh": "dedup",
    "q_simhash_pairs": "dedup",
    "q_ngram_jaccard": "dedup",
    "q_dedup_cascade": "dedup",
    "q_embed_neardup": "similarity",
    "q_ann_bruteforce": "similarity",
    "q_ann_pq": "similarity",
    "q_token_count": "text",
    "q_sparse_cosine": "text",
    "q_pagerank": "graph",
    "q_dbscan_grid": "clustering",
}

# Warehouse layout (as bench.py ingests it): fact-sized tables get one file
# per core, the rest stay few-file.
FACT_TABLES = ("lineitem", "orders", "events")
FEW_FILE_TABLES = {"customer": 4, "documents": 4, "embeddings": 4}


def data_files(path: str) -> list[str]:
    """Data files written by Spark under ``path`` (no _SUCCESS/.crc)."""
    out = []
    for dirpath, _, names in os.walk(path):
        out.extend(
            os.path.join(dirpath, n)
            for n in names
            if not n.startswith((".", "_"))
        )
    return out


def bytes_under(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


class Workload:
    name: str
    ops: list[str]
    shuffle = False  # whether a pass may run its ops in any order
    passes = 2  # timed passes per run, whatever --seconds says

    def __init__(self, spark, work: str, seed: int, cores: int, smoke: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.cores, self.smoke = cores, smoke

    def stage(self) -> None:
        """Generate the inputs from the seed and lay them out (set-up)."""
        raise NotImplementedError

    def run_op(self, op: str) -> None:
        """Run one op to completion (lazy calls end in their action)."""
        raise NotImplementedError

    def cold_op(self, op: str) -> None:
        """Run one op of the cold pass, keeping what :meth:`check` reads."""
        self.run_op(op)

    def check(self) -> dict[str, str]:
        """Check the outputs of the ops just run against an independent
        computation (untimed); returns {op: failure message}."""
        raise NotImplementedError

    def staged_rows(self) -> int:
        raise NotImplementedError

    def stored_bytes_ratio(self) -> float:
        raise NotImplementedError

    def layer_counters(self) -> dict[str, float]:
        """Per-layer byte/row counters of the last pass."""
        return {}

    def report(self, op_median_s: dict[str, float]) -> dict:
        """Workload-specific entries for the run record."""
        return {}


class EtlStar(Workload):
    name = "etl_star"
    ops = ETL_OPS

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.rows = SMOKE_ETL_ROWS if self.smoke else ETL_ROWS
        self.pages = f"{self.work}/pages"
        self.out = {op: f"{self.work}/{op}" for op in ("bronze", "silver", "gold", "load")}
        self.violations: dict[str, int] = {}
        self.fact_rows = 0

    def stage(self) -> None:
        self.csv_bytes = datagen.write_iowa_pages(self.pages, self.seed, self.rows)

    def staged_rows(self) -> int:
        return self.rows

    def _gold(self):
        from iowa_liquor_sales_spark.plans.iowa import build_gold

        return build_gold(self.spark.read.parquet(self.out["silver"]))

    def run_op(self, op: str) -> None:
        from iowa_liquor_sales_spark.plans.iowa import silver, validate_gold
        from iowa_liquor_sales_spark.schemas import IOWA_RAW_SCHEMA
        from iowa_liquor_sales_spark.sources.readers import read_csv
        from iowa_liquor_sales_spark.sources.writers import write_csv, write_parquet

        spark = self.spark
        if op == "bronze":
            bronze = read_csv(spark, self.pages, IOWA_RAW_SCHEMA, header=True, null_value="\\N")
            write_parquet(bronze, self.out["bronze"])
        elif op == "silver":
            write_parquet(silver(spark.read.parquet(self.out["bronze"])), self.out["silver"])
        elif op == "gold":
            for name, df in self._gold().items():
                write_parquet(df, f"{self.out['gold']}/{name}")
        elif op == "validate":
            self.violations = validate_gold(self._gold())
        elif op == "load":
            write_csv(spark.read.parquet(f"{self.out['gold']}/fact_sales"), self.out["load"])
        else:
            raise KeyError(op)

    def check(self) -> dict[str, str]:
        """validate_gold is all zeros, and the gold row counts and silver
        sale_dollars total equal DuckDB's reading of the staged CSV."""
        import duckdb

        fails: dict[str, str] = {}
        bad = {k: v for k, v in self.violations.items() if v}
        if not self.violations or bad:
            fails["validate"] = f"violations {bad or 'not computed'}"
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW raw AS SELECT * FROM read_csv('{self.pages}/*.csv', "
            "header=true, all_varchar=true)"
        )
        tables = ["fact_sales", "dim_store", "dim_item", "dim_vendor", "dim_category", "dim_date"]
        *counts, want_sum = con.sql(
            "SELECT count(DISTINCT invoice_line_no), count(DISTINCT store), "
            "count(DISTINCT itemno), count(DISTINCT vendor_no), count(DISTINCT category), "
            "count(DISTINCT CAST(TRY_CAST(date AS TIMESTAMP) AS DATE)), "
            "sum(coalesce(TRY_CAST(sale_dollars AS DECIMAL(18,2)), 0)) FROM raw"
        ).fetchone()
        want = dict(zip(tables, counts))
        got = {
            t: con.sql(f"SELECT count(*) FROM '{self.out['gold']}/{t}/*.parquet'").fetchone()[0]
            for t in want
        }
        if got != want:
            fails["gold"] = f"row counts engine={got} duckdb={want}"
        got_sum = con.sql(
            f"SELECT sum(CAST(sale_dollars AS DECIMAL(18,2))) FROM '{self.out['silver']}/*.parquet'"
        ).fetchone()[0]
        if got_sum != want_sum:
            fails["silver"] = f"sum(sale_dollars) engine={got_sum} duckdb={want_sum}"
        self.fact_rows = got["fact_sales"]
        con.close()
        return fails

    def stored_bytes_ratio(self) -> float:
        return sum(bytes_under(p) for p in self.out.values()) / self.csv_bytes

    def report(self, op_median_s: dict[str, float]) -> dict:
        # the reference's published stage throughputs (BASELINE.md), next
        # to this run's: its transform is silver, its COPY load is load
        return {
            "stage_rows_per_s": {
                "transform": self.rows / op_median_s["silver"],
                "load": self.fact_rows / op_median_s["load"],
            },
            "baseline_rows_per_s": {"transform": 645_000, "load": 19_000},
        }

    def layer_counters(self) -> dict[str, float]:
        return {
            "sources.bronze_bytes": bytes_under(self.out["bronze"]),
            "sources.load_bytes": bytes_under(self.out["load"]),
            "sources.files_written": sum(len(data_files(p)) for p in self.out.values()),
            "functions.silver_bytes": bytes_under(self.out["silver"]),
            "plans.gold_bytes": bytes_under(self.out["gold"]),
            "plans.fact_rows_per_input_row": self.fact_rows / self.rows,
        }


class Collected:
    """A query's collected rows, shaped as the DataFrame
    ``tests.oracle_utils.compare`` reads (``columns``, ``collect()``)."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


class QueryMix(Workload):
    shuffle = True

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.sf = SMOKE_MIX_SF if self.smoke else MIX_SF
        self.source = f"{self.work}/source"
        self.warehouse = f"{self.work}/warehouse"
        self.collected: dict[str, Collected] = {}

    def stage(self) -> None:
        from iowa_liquor_sales_spark.schemas import read_table
        from iowa_liquor_sales_spark.sources.writers import write_parquet

        self.rows = datagen.write_warehouse(self.source, self.seed, self.sf)

        def ingest(table: str) -> None:
            parts = self.cores if table in FACT_TABLES else FEW_FILE_TABLES.get(table, 1)
            write_parquet(
                read_table(self.spark, self.source, table).repartition(parts),
                f"{self.warehouse}/{table}.parquet",
            )

        with ThreadPoolExecutor(max_workers=self.cores) as pool:
            list(pool.map(ingest, self.rows))

    def staged_rows(self) -> int:
        return sum(self.rows.values())

    def run_op(self, op: str) -> None:
        self.queries[op](self.spark, self.warehouse).write.format("noop").mode(
            "overwrite"
        ).save()

    def cold_op(self, op: str) -> None:
        # collected, not sunk, so that check() compares the rows without
        # running the query again
        self.collected[op] = Collected(self.queries[op](self.spark, self.warehouse))

    def check(self) -> dict[str, str]:
        """Each query's cold-pass rows equal its oracle SQL under DuckDB
        over the same generated tables."""
        from tests.oracle_utils import compare, duckdb_con

        fails = {}
        con = duckdb_con(self.source)
        con.sql("SET enable_progress_bar = false")
        for op in self.ops:
            if op not in self.collected:
                continue  # it raised in the cold pass, already a failure
            ok, msg = compare(self.collected.pop(op), con, self.oracles[op])
            if not ok:
                fails[op] = msg
        con.close()
        return fails

    def stored_bytes_ratio(self) -> float:
        return bytes_under(self.warehouse) / bytes_under(self.source)


class RelationalMix(QueryMix):
    name = "relational_mix"
    ops = RELATIONAL_OPS + CURATION_PROBE


class CurationMix(QueryMix):
    name = "curation_mix"
    ops = CURATION_OPS


WORKLOADS = {w.name: w for w in (EtlStar, RelationalMix, CurationMix)}
