"""SCALE.md tooling without a SparkSession: the section table and the
splice that writes one section into the document."""

from __future__ import annotations

import inspect

from scripts import scale_probe as sp

DOC = """# Title

intro

## A

a1

### A.sub

a2

## B

b1

## C

c1
"""


def test_section_table_covers_every_bench_render_pair():
    funcs = dict(inspect.getmembers(sp, inspect.isfunction))
    rounds = {n[len("bench_"):] for n in funcs if n.startswith("bench_round")}
    assert rounds == {n[len("render_"):] for n in funcs if n.startswith("render_round")}
    for r in rounds:
        assert sp.SECTIONS[r][:2] == (funcs[f"bench_{r}"], funcs[f"render_{r}"])
    renders = {s[1] for s in sp.SECTIONS.values()}
    assert renders == {f for n, f in funcs.items() if n.startswith("render_")}
    for _, _, inputs in sp.SECTIONS.values():
        assert set(inputs) <= set(sp.INPUTS)


def test_splice_replaces_a_middle_section_in_place():
    out = sp.splice(DOC, "\n## A\n\nnew a\n")
    assert out == DOC.replace("a1\n\n### A.sub\n\na2\n", "new a\n")


def test_splice_replaces_the_last_section_in_place():
    assert sp.splice(DOC, "## C\n\nnew c") == DOC.replace("c1", "new c")


def test_splice_appends_a_missing_section():
    assert sp.splice(DOC, "## D\n\nd1\n") == DOC + "\n## D\n\nd1\n"


def test_splice_handles_every_block_of_a_multi_section_render():
    out = sp.splice(DOC, "## B\n\nnew b\n\n## D\n\nd1")
    assert out == DOC.replace("b1", "new b") + "\n## D\n\nd1\n"
    assert sp.splice(out, "## B\n\nnew b\n\n## D\n\nd1") == out


def test_fact_header_names_the_real_core_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    per = {1: (600, {"q_a": 1.0})}
    assert "on local[7]:" in "\n".join(sp.render_fact(per))
