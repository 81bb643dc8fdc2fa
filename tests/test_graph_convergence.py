"""Fixed-round vs ``rounds=None`` (run to the fixpoint) graph operators.

The declared queries use fixed rounds (``kcore(rounds=3)``,
``bfs_hops(rounds=3)``, ``coreness_hindex(rounds=3)``) so a SQL oracle
can mirror them with chained CTEs; ``rounds=None`` runs the same round
body until its stop test repeats. These tests check that the two forms
agree once the fixed round count reaches the fixpoint, and that fewer
rounds do not.
"""

from iowa_liquor_sales_spark.operators.graph import (
    bfs_hops,
    coreness_hindex,
    kcore,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kcore_fixed_rounds_match_converged(spark):
    # A 4-clique (its own 3-core) with a pendant path hanging off it:
    # peeling the path takes TWO rounds (5 exposes 4 only after 5 goes),
    # so convergence is genuinely iterative, not one-shot.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        ["src", "dst"],
    )
    conv = _sorted_rows(kcore(edges, k=2, rounds=None))
    fixed = _sorted_rows(kcore(edges, k=2, rounds=4))
    assert conv == fixed
    # The 4-clique survives a k=2 peel; the pendant path does not.
    assert [v for v, _ in conv] == [0, 1, 2, 3]
    # Under-iterated fixed-round differs — convergence genuinely needed
    # more than one peel on this graph.
    assert _sorted_rows(kcore(edges, k=2, rounds=1)) != conv


def test_kcore_converged_empty_result(spark):
    # A bare path has no 3-core: fixpoint peeling must reach the empty
    # edge set and stop.
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    assert kcore(edges, k=3, rounds=None).count() == 0


def test_bfs_fixed_rounds_match_converged(spark):
    # Path 0-1-2-3-4 plus a chord 1-3: eccentricity of 0 is 3, so
    # rounds=3 reaches the fixpoint; rounds=1 must not.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (1, 3)], ["src", "dst"]
    )
    conv = _sorted_rows(bfs_hops(edges, source=0, rounds=None))
    fixed = _sorted_rows(bfs_hops(edges, source=0, rounds=3))
    assert conv == fixed
    assert conv == [(0, 0), (1, 1), (2, 2), (3, 2), (4, 3)]
    under = _sorted_rows(bfs_hops(edges, source=0, rounds=1))
    assert under != conv


def test_bfs_converged_disconnected(spark):
    # Vertices unreachable from the source are absent.
    edges = spark.createDataFrame([(0, 1), (5, 6)], ["src", "dst"])
    conv = _sorted_rows(bfs_hops(edges, source=0, rounds=None))
    assert conv == [(0, 0), (1, 1)]


def test_coreness_fixed_rounds_match_fixpoint(spark):
    # A 4-clique with the tail 3-4-5-6-7: the degree-initialised values
    # drain down the tail one node per round (node 4 settles in round
    # 3), so rounds=3 reaches the fixpoint and rounds=2 does not.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         (3, 4), (4, 5), (5, 6), (6, 7)],
        ["src", "dst"],
    )
    conv = _sorted_rows(coreness_hindex(edges, rounds=None))
    assert conv == _sorted_rows(coreness_hindex(edges, rounds=3))
    assert conv == [(0, 3), (1, 3), (2, 3), (3, 3), (4, 1), (5, 1), (6, 1), (7, 1)]
    assert _sorted_rows(coreness_hindex(edges, rounds=2)) != conv


def test_boruvka_finds_exact_mst(spark):
    from iowa_liquor_sales_spark.operators.graph import boruvka_mst_rounds

    # Path 0-1-2-3 with a heavy shortcut: MST excludes the shortcut.
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 2), (2, 3, 3), (0, 3, 10)], ["src", "dst", "w"]
    )
    got = _sorted_rows(boruvka_mst_rounds(edges, rounds=2))
    assert got == [(0, 1, 1), (1, 2, 2), (2, 3, 3)]

    # Two triangles + bridge + heavy long edge: unique MST, weight 21.
    edges2 = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 4), (0, 2, 9), (3, 4, 2), (4, 5, 3),
         (3, 5, 8), (2, 3, 7), (0, 5, 20)],
        ["src", "dst", "w"],
    )
    mst = _sorted_rows(boruvka_mst_rounds(edges2, rounds=2))
    assert mst == [(0, 1, 5), (1, 2, 4), (2, 3, 7), (3, 4, 2), (4, 5, 3)]
    assert sum(w for _, _, w in mst) == 21


def test_boruvka_duplicate_weights_deterministic(spark):
    from iowa_liquor_sales_spark.operators.graph import boruvka_mst_rounds

    # All weights equal: the (w, lo, hi) total order still picks a unique
    # spanning forest, identically on every run.
    edges = spark.createDataFrame(
        [(0, 1, 7), (1, 2, 7), (0, 2, 7), (2, 3, 7)], ["src", "dst", "w"]
    )
    a = _sorted_rows(boruvka_mst_rounds(edges, rounds=2))
    b = _sorted_rows(boruvka_mst_rounds(edges, rounds=2))
    assert a == b
    assert len(a) == 3  # spanning tree of 4 nodes


def test_boruvka_small_v_matches_distributed(spark):
    # The driver-merge path (small_v=True) replays the distributed 2-hop
    # min-label dataflow exactly — the chosen forest must be identical,
    # including under duplicate weights and multi-round merging.
    from iowa_liquor_sales_spark.operators.graph import boruvka_mst_rounds

    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 4), (0, 2, 9), (3, 4, 2), (4, 5, 3),
         (3, 5, 8), (2, 3, 7), (0, 5, 20), (6, 7, 7), (7, 8, 7),
         (6, 8, 7)],
        ["src", "dst", "w"],
    )
    dist = _sorted_rows(boruvka_mst_rounds(edges, rounds=2))
    small = _sorted_rows(boruvka_mst_rounds(edges, rounds=2, small_v=True))
    assert dist == small
    assert len(small) == 7  # spanning forest: 9 nodes, 2 components


def test_sssp_relaxes_through_cheaper_multihop_path(spark):
    from iowa_liquor_sales_spark.operators.graph import sssp_rounds

    # 1 -> 4 direct costs 10; 1 -> 2 -> 3 -> 4 costs 3. One round only
    # sees the direct edge; three rounds find the cheap path.
    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)], ["src", "dst", "w"]
    )
    one = {
        r["node"]: r["dist"]
        for r in sssp_rounds(edges, source=1, iters=1).collect()
    }
    assert one[4] == 10 and one[2] == 1 and 3 not in one
    three = {
        r["node"]: r["dist"]
        for r in sssp_rounds(edges, source=1, iters=3).collect()
    }
    assert three == {1: 0, 2: 1, 3: 2, 4: 3}


def _exact_coreness(simple_edges):
    """Textbook peeling (repeatedly delete min-degree nodes below k)."""
    adj: dict[int, set[int]] = {}
    for a, b in simple_edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    live = dict(adj)
    k = 0
    while live:
        k += 1
        changed = True
        while changed:
            changed = False
            for v in [v for v, ns in live.items() if len(ns) < k]:
                core[v] = k - 1
                for u in live[v]:
                    live[u].discard(v)
                del live[v]
                changed = True
    return core


def test_coreness_converged_equals_exact_peeling_on_random_graphs(spark):
    """The value-sum fixpoint loop must land on the exact core numbers
    without a caller-guessed round count — on seeded random graphs AND
    on a long path (whose h-index chain length defeats any small fixed
    `rounds`)."""
    import random

    rng = random.Random(13)
    for n, m in [(12, 20), (20, 45), (25, 30)]:
        simple = set()
        while len(simple) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                simple.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(sorted(simple), ["src", "dst"])
        got = {
            r["node"]: r["coreness"]
            for r in coreness_hindex(df, rounds=None).collect()
        }
        assert got == _exact_coreness(simple)

    # 30-node path: coreness 1 everywhere, but degree-init values take
    # many h-index rounds to drain down the chain.
    path = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(path, ["src", "dst"])
    got = {
        r["node"]: r["coreness"] for r in coreness_hindex(df, rounds=None).collect()
    }
    assert got == _exact_coreness(set(path))
