"""Driver-contract invariants that need no SparkSession: the gate order
of ``queries()`` and the column types of every ``oracle_sql()`` entry."""

from __future__ import annotations

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
