"""Driver-contract invariants that need no SparkSession: the gate order
of ``queries()``, the column types of every ``oracle_sql()`` entry, the
one caching idiom behind the per-query cache release, typed parquet
scans, and one builder per shared graph edge relation."""

from __future__ import annotations

import ast
import re
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


def _engine_lines(needle: str) -> list[tuple[str, str]]:
    """(file, stripped line) of each line of the engine that contains
    ``needle``: the package and the driver entry."""
    root = Path(__file__).resolve().parents[1]
    files = [root / "__spark_entry__.py", *sorted((root / "iowa_liquor_sales_spark").rglob("*.py"))]
    return [
        (str(f.relative_to(root)), line.strip())
        for f in files
        for line in f.read_text().splitlines()
        if needle in line
    ]


def test_engine_persists_only_through_caching_pin():
    # query_scope can only release what caching.pin registered: a bare
    # .persist() in the engine would escape the pinned-relation count.
    bare = [
        hit for hit in _engine_lines(".persist(")
        if hit[0] != "iowa_liquor_sales_spark/caching.py"
    ]
    assert not bare, bare


def test_engine_scans_parquet_only_typed():
    # A bare .read.parquet( infers the schema: one Spark job each time a
    # DataFrame is built. readers.read_parquet takes the declared schema.
    # The one exception is warehouse.compact's first read of a directory
    # whose schema nothing declares.
    assert _engine_lines(".read.parquet(") == [
        ("iowa_liquor_sales_spark/sources/warehouse.py", "df = spark.read.parquet(path)")
    ]


def _graph_defs() -> dict[str, str]:
    """Source of each top-level function of ``operators/graph.py``."""
    path = Path(__file__).resolve().parents[1] / "iowa_liquor_sales_spark/operators/graph.py"
    text = path.read_text()
    return {
        node.name: ast.get_source_segment(text, node)
        for node in ast.parse(text).body
        if isinstance(node, ast.FunctionDef)
    }


def _defs_matching(pattern: str) -> list[str]:
    return sorted(name for name, src in _graph_defs().items() if re.search(pattern, src))


# An edge turned around: the projection `F.col(x).alias(p), F.col(y).alias(q)`
# next to `F.col(y).alias(p), F.col(x).alias(q)`, inside an explode's pair
# of structs or across a union of two selects.
_SWAPPED_STRUCTS = r'F\.struct\(\s*F\.col\(("?\w+"?)\)\.alias\(("?\w+"?)\),\s*F\.col\(\2\)\.alias\(\1\)\s*\)'
_SWAPPED_UNION = (
    r'F\.col\(("?\w+"?)\)\.alias\(("?\w+"?)\),\s*F\.col\(("?\w+"?)\)\.alias\(("?\w+"?)\)'
    r"\s*\)\s*\)?\s*\.union(?:All|ByName)\(\s*\w+\.select\(\s*"
    r"F\.col\(\3\)\.alias\(\2\),\s*F\.col\(\1\)\.alias\(\4\)"
)


def test_graph_builds_each_shared_edge_relation_once():
    # Canonical (lo, hi) edges: _canonical_edges, plus Borůvka's own
    # per-pair minimum-weight form.
    assert _defs_matching(r"F\.least\(F\.col\(src\), F\.col\(dst\)\)") == [
        "_canonical_edges",
        "boruvka_mst_rounds",
    ]
    # Both directions: one explode. The one self-union left is
    # neighbor_jaccard's, where the explode measured slower (see its
    # comment).
    assert _defs_matching(_SWAPPED_STRUCTS) == ["_both_ways"]
    assert _defs_matching(_SWAPPED_UNION) == ["neighbor_jaccard"]
    # The repartitioned, checkpointed edge relation of the rank and
    # distance operators.
    assert _defs_matching(r'repartition\(F\.col\("s"\)\)') == ["_keyed_edges"]


def test_graph_has_no_converged_twins():
    # A fixpoint form is ``rounds=None`` on the operator itself, not a
    # second ``X_converged`` copy of an operator ``X...``.
    names = _graph_defs()
    twins = [
        name
        for name in names
        if name.endswith("_converged")
        and any(other.startswith(name[: -len("_converged")]) for other in names if other != name)
    ]
    assert not twins, twins
