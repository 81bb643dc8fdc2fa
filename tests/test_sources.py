"""Custom paged DataSource (S1) + salted join + observed full_load."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.caching import query_scope
from iowa_liquor_sales_spark.operators.joins import salted_join
from iowa_liquor_sales_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES, read_table
from iowa_liquor_sales_spark.sources.socrata import SocrataPagedDataSource

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "sf", [SF] + [os.path.join(os.path.dirname(SF), d) for d in ("sf0.01", "sf0.1")]
)
def test_declared_schemas_match_the_files(spark, sf):
    # names, types, nullability and order: a typed scan must see exactly
    # what inferring the footer would
    inferred = {t: spark.read.parquet(f"{sf}/{t}.parquet").schema for t in TESTDATA_TABLES}
    assert inferred == {t: TESTDATA_SCHEMAS[t] for t in TESTDATA_TABLES}


def test_typed_reads_run_no_job(spark):
    group = "test_typed_reads_run_no_job"
    with query_scope(spark, group):
        for t in TESTDATA_TABLES:
            read_table(spark, SF, t)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == []


def _stage_pages(spark, out_dir: str, page_rows: int = 400) -> int:
    """Write the customer table as numbered CSV 'pages' (one file per
    simulated HTTP page, like the reference's chunk_%05d naming)."""
    rows = read_table(spark, SF, "customer").orderBy("c_custkey").collect()
    os.makedirs(out_dir, exist_ok=True)
    header = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    n_pages = 0
    for p in range(0, len(rows), page_rows):
        with open(os.path.join(out_dir, f"page_{p // page_rows:05d}.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for r in rows[p : p + page_rows]:
                w.writerow([r[c] for c in header])
        n_pages += 1
    return len(rows), n_pages


def test_paged_datasource_partition_per_page(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    n_rows, n_pages = _stage_pages(spark, pages_dir)
    spark.dataSource.register(SocrataPagedDataSource)
    df = (
        spark.read.format("socrata_paged")
        .schema(
            "c_custkey string, c_name string, c_nationkey string, "
            "c_acctbal string, c_mktsegment string"
        )
        .option("pages_dir", pages_dir)
        .load()
    )
    # One Spark partition per API page — the reference's serial offset
    # loop parallelized.
    assert df.rdd.getNumPartitions() == n_pages
    assert df.count() == n_rows
    # Values round-trip (bronze all-string; silver owns casts).
    orig = read_table(spark, SF, "customer")
    got = df.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    want = orig.select("c_custkey", "c_acctbal")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_inferred_schema_from_page_header(spark, tmp_path):
    pages_dir = str(tmp_path / "pages_h")
    _stage_pages(spark, pages_dir)
    spark.dataSource.register(SocrataPagedDataSource)
    df = spark.read.format("socrata_paged").option("pages_dir", pages_dir).load()
    assert df.columns == [
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    ]


def test_paged_stream_reader_incremental_exactly_once(spark, tmp_path):
    """The streaming twin: pages arriving over time are consumed once
    each, across separate availableNow runs sharing a checkpoint."""
    pages_dir = str(tmp_path / "stream_pages")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    n_rows, n_pages = _stage_pages(spark, pages_dir, page_rows=50)
    assert n_pages >= 2
    # Hold back the last page to simulate a feed that grows mid-stream.
    held_back = os.path.join(pages_dir, f"page_{n_pages - 1:05d}.csv")
    with open(held_back) as f:
        held_rows = sum(1 for _ in f) - 1  # minus header
    parked = str(tmp_path / "parked.csv")
    os.rename(held_back, parked)

    spark.dataSource.register(SocrataPagedDataSource)

    def drain():
        stream = (
            spark.readStream.format("socrata_paged")
            .schema(
                "c_custkey string, c_name string, c_nationkey string, "
                "c_acctbal string, c_mktsegment string"
            )
            .option("pages_dir", pages_dir)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out).count()
    assert first == n_rows - held_rows  # all but the held-back page
    # Feed grows; a restarted query picks up ONLY the new page.
    os.rename(parked, held_back)
    drain()
    final = spark.read.parquet(out)
    assert final.count() == n_rows
    assert final.select("c_custkey").distinct().count() == n_rows


def test_salted_join_equals_plain_join(spark):
    li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    plain = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    salted = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_env_config_overrides(monkeypatch):
    from iowa_liquor_sales_spark.config import load_config

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("IOWA_SHUFFLE_PARTITIONS", "64")
    monkeypatch.setenv("IOWA_JDBC_URL", "jdbc:postgresql://db:5432/iowa")
    cfg = load_config()
    assert cfg.cpus == 8
    assert cfg.resolved_shuffle_partitions() == 64
    assert cfg.jdbc_url == "jdbc:postgresql://db:5432/iowa"
    monkeypatch.delenv("IOWA_SHUFFLE_PARTITIONS")
    assert load_config().resolved_shuffle_partitions() == 8


def test_stream_offset_is_name_bounded_not_count_bounded(tmp_path):
    """A late-arriving file that sorts BEFORE consumed pages must not
    shift the index->file mapping (which would re-read an old page and
    silently skip the new one). Offsets carry the high-water page name."""
    from iowa_liquor_sales_spark.sources.socrata import SocrataPagedStreamReader

    d = tmp_path / "pages"
    d.mkdir()

    class FakeSchema:
        fields = [None]

    def mk(name):
        (d / name).write_text("h\nv\n")

    r = SocrataPagedStreamReader({"pages_dir": str(d)}, FakeSchema())
    mk("page_1.csv")
    mk("page_2.csv")
    o0, o1 = r.initialOffset(), r.latestOffset()
    batch1 = [p.path for p in r.partitions(o0, o1)]
    assert [os.path.basename(p) for p in batch1] == ["page_1.csv", "page_2.csv"]

    # Late file sorting before the high-water mark arrives.
    mk("page_0.csv")
    o2 = r.latestOffset()
    batch2 = [p.path for p in r.partitions(o1, o2)]
    # Name-bounded: nothing re-read. (A count-bounded slice would have
    # returned page_2.csv again — a duplicate.)
    assert [os.path.basename(p) for p in batch2 if p] == []

    # Normal growth after the high-water mark is picked up exactly once.
    mk("page_3.csv")
    o3 = r.latestOffset()
    batch3 = [p.path for p in r.partitions(o2, o3)]
    assert [os.path.basename(p) for p in batch3] == ["page_3.csv"]

    # Legacy count-only checkpoints still work (fallback path).
    legacy = [p.path for p in r.partitions({"page": 0}, {"page": 2})]
    assert len(legacy) == 2


class _FakeConn:
    def __init__(self, log):
        self.log = log

    def cursor(self):
        conn = self

        class Cur:
            def execute(self, stmt):
                conn.log.append(("exec", " ".join(stmt.split())))

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        return Cur()

    def commit(self):
        self.log.append(("commit",))

    def close(self):
        self.log.append(("close",))


def test_atomic_load_failure_leaves_target_untouched():
    from iowa_liquor_sales_spark.sources.writers import write_postgres_atomic

    log = []

    def connect(dsn):
        return _FakeConn(log)

    def failing_copy(df, dsn, table, columns):
        assert table == "sales__staging"
        raise RuntimeError("executor died mid-COPY")

    with pytest.raises(RuntimeError):
        write_postgres_atomic(
            None, "dsn", "sales", connect=connect, copy_fn=failing_copy
        )
    stmts = [s for op, *rest in log if op == "exec" for s in rest]
    # Staging was prepared, but the target was never renamed or dropped.
    assert any("CREATE TABLE sales__staging" in s for s in stmts)
    assert not any("ALTER TABLE sales " in s for s in stmts)
    assert not any(s.startswith("DROP TABLE sales ") or s == "DROP TABLE sales"
                   for s in stmts)


def test_atomic_load_swaps_in_single_transaction():
    from iowa_liquor_sales_spark.sources.writers import write_postgres_atomic

    log = []

    def connect(dsn):
        return _FakeConn(log)

    loaded = []

    def ok_copy(df, dsn, table, columns):
        loaded.append(table)

    write_postgres_atomic(None, "dsn", "sales", connect=connect, copy_fn=ok_copy)
    assert loaded == ["sales__staging"]
    # The swap statements all precede ONE commit (transactional rename).
    commit_idxs = [i for i, e in enumerate(log) if e == ("commit",)]
    assert len(commit_idxs) == 2  # staging-prep txn + swap txn
    swap = [e[1] for e in log[commit_idxs[0] + 1 : commit_idxs[1]] if e[0] == "exec"]
    assert swap == [
        "DROP TABLE IF EXISTS sales__old",
        "ALTER TABLE sales RENAME TO sales__old",
        "ALTER TABLE sales__staging RENAME TO sales",
        "DROP TABLE sales__old",
    ]


def test_fetch_with_retry_backoff_then_success():
    from iowa_liquor_sales_spark.sources.socrata import fetch_with_retry

    calls, sleeps = [], []

    def flaky(target, timeout):
        calls.append((target, timeout))
        if len(calls) < 3:
            raise OSError("connection reset")
        return "body"

    out = fetch_with_retry(
        flaky, "page_7", retries=3, timeout=60.0, backoff=0.5,
        sleep=sleeps.append,
    )
    assert out == "body"
    assert calls == [("page_7", 60.0)] * 3      # timeout passed through
    assert sleeps == [0.5, 1.0]                 # exponential backoff


def test_fetch_with_retry_exhausts_and_raises():
    from iowa_liquor_sales_spark.sources.socrata import fetch_with_retry

    sleeps = []

    def dead(target, timeout):
        raise TimeoutError("60s elapsed")

    with pytest.raises(TimeoutError):
        fetch_with_retry(dead, "p", retries=2, sleep=sleeps.append)
    assert sleeps == [0.5, 1.0]                 # retried exactly `retries`


def test_binaryfile_source_matches_raw_bytes(spark):
    # Spark's binaryFile source (the raw-asset ingest path for the
    # multimodal pipeline: image/audio dirs -> (path, length, content))
    # must agree byte-for-byte with an independent read of the files.
    import glob
    import hashlib

    from pyspark.sql import functions as F

    got = {
        r["fname"]: (r["n_bytes"], r["digest"])
        for r in spark.read.format("binaryFile")
        .load("/root/testdata/sf0.001/*.parquet")
        .select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("digest"),
        )
        .collect()
    }
    want = {}
    for f in glob.glob("/root/testdata/sf0.001/*.parquet"):
        b = open(f, "rb").read()
        want[f.rsplit("/", 1)[1]] = (len(b), hashlib.md5(b).hexdigest())
    assert got == want and len(got) == 10


def test_dynamic_partition_overwrite_preserves_other_partitions(spark, tmp_path):
    from iowa_liquor_sales_spark.sources.writers import (
        write_parquet,
        write_parquet_dynamic_overwrite,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "pk", "v"]
    )
    write_parquet(base, path, partition_by=["pk"])
    # refresh ONLY partition b; a and c must survive untouched
    delta = spark.createDataFrame([(9, "b", 99)], ["id", "pk", "v"])
    write_parquet_dynamic_overwrite(delta, path, ["pk"])
    got = {
        (r["pk"], r["id"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("a", 1, 10), ("b", 9, 99), ("c", 3, 30)}
    # a STATIC overwrite of the same delta would have left only b
