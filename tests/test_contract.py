"""Driver-contract invariants that need no SparkSession: the gate order
of ``queries()``, the column types of every ``oracle_sql()`` entry, and
the one caching idiom behind the per-query cache release."""

from __future__ import annotations

from pathlib import Path

import __spark_entry__ as entry_mod
from tests.oracle_utils import duckdb_con


def test_gate_head_leads_queries_in_order():
    head = entry_mod._GATE_HEAD
    assert len(set(head)) == len(head), "repeated _GATE_HEAD names"
    assert list(entry_mod.queries())[: len(head)] == head


def test_no_oracle_outputs_wide_integers(sf_dir):
    # DuckDB hands HUGEINT / UHUGEINT / UBIGINT results to the client
    # through float64, which drops low bits above 2^53 and breaks the
    # driver's value hash (the round-1 q_simhash failure). Oracles must
    # CAST such columns to BIGINT.
    flagged = {}
    with duckdb_con(sf_dir) as con:
        for name, sql in entry_mod.oracle_sql().items():
            rel = con.sql(sql)
            wide = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t) in ("HUGEINT", "UHUGEINT", "UBIGINT")
            ]
            if wide:
                flagged[name] = wide
    assert not flagged, flagged


def test_engine_persists_only_through_caching_pin():
    # query_scope can only release what caching.pin registered: a bare
    # .persist() in the engine would escape the pinned-relation count.
    root = Path(__file__).resolve().parents[1]
    pkg = root / "iowa_liquor_sales_spark"
    files = [root / "__spark_entry__.py", *sorted(pkg.rglob("*.py"))]
    bare = [
        f"{f.relative_to(root)}:{i}"
        for f in files
        if f != pkg / "caching.py"
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if ".persist(" in line
    ]
    assert not bare, bare
