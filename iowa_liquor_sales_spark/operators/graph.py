"""Graph operators over DataFrame edge lists: connected components,
PageRank, HITS, shortest paths, k-core, coreness, k-truss, link
prediction, centralities and community scores.

Three edge relations are built in one place each and shared:

- :func:`_canonical_edges`: the undirected edge set, distinct
  ``(lo, hi)`` with ``lo < hi`` (self-loops dropped);
- :func:`_both_ways`: every edge in both directions, from ONE scan
  that explodes each row into its two orientations (a self-union
  would evaluate the upstream edge plan twice: Catalyst does not share
  work across union branches);
- :func:`_keyed_edges`: the directed edge relation repartitioned on
  its source and checkpointed, plus its checkpointed node set, the
  static inputs of PageRank, HITS and SSSP.

Rounds. :func:`connected_components` and :func:`ktruss_converged` run
until nothing changes (``max_iter`` bounds them). The other iterative
operators run a fixed number of rounds (``rounds`` / ``iters``), so
their plans unroll into finite chains that the DuckDB oracles mirror
with chained CTEs. :func:`kcore`, :func:`bfs_hops` and
:func:`coreness_hindex` also take ``rounds=None``: they then run the
same round body until a one-action stop test (edge count, reached-set
size, value sum) repeats, bounded by a per-function constant
(:func:`_fixed_or_fixpoint`). Iterated relations are
``localCheckpoint``-ed: a ``persist`` alone leaves the logical plan
growing per round until the analyzer stack-overflows, while the
checkpoint truncates lineage to the materialized blocks.

Everything stays in DataFrame ops (no GraphFrames/GraphX dependency),
so each operator can be checked against a SQL oracle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.caching import pin

# Row cap for the measured-count broadcast decisions below (and in
# grid_dbscan): node-map relations are a handful of ids + one label
# each (~50 B/row framed), so 2M rows is ~100 MB built — comfortable on
# any executor profile this engine targets while staying far under
# Spark's 8 GB / 512M-row broadcast hard cap.
_BCAST_ROW_CAP = 2_000_000


def broadcast_hint(rows: int):
    """``F.broadcast`` when a measured row count fits under
    ``_BCAST_ROW_CAP``, else the identity (keep the shuffle plan)."""
    return F.broadcast if rows <= _BCAST_ROW_CAP else (lambda df: df)


# Safety bounds of the ``rounds=None`` fixpoint loops.
_KCORE_MAX_ROUNDS = 50
_BFS_MAX_ROUNDS = 50
_CORENESS_MAX_ROUNDS = 200


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected edge set: distinct ``(lo, hi)`` with ``lo < hi``."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )


def _both_ways(
    edges: DataFrame, src: str, dst: str, a: str = "a", b: str = "b"
) -> DataFrame:
    """Every edge ``src -> dst`` as the two rows ``(a, b) = (src, dst)``
    and ``(dst, src)``, exploded from one scan of ``edges``: a
    self-union would inline the (often expensive: a pair join, an LSH
    verify) upstream plan twice and compute it twice."""
    return (
        edges.select(F.col(src).alias(a), F.col(dst).alias(b))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col(a), F.col(b)),
                    F.struct(F.col(b).alias(a), F.col(a).alias(b)),
                )
            ).alias("e")
        )
        .select(f"e.{a}", f"e.{b}")
    )


def _keyed_edges(
    edges: DataFrame, src: str, dst: str, w: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The directed edges ``(s, d[, w])`` repartitioned on ``s`` and
    checkpointed, and their checkpointed node set ``(node)``. Iterative
    operators re-read both every round: left lazy, the upstream edge
    derivation re-executes per round and the plan grows with it, and
    the partitioning on the per-round join key spares each round an
    edge exchange."""
    cols = [F.col(src).alias("s"), F.col(dst).alias("d")]
    if w is not None:
        cols.append(F.col(w).alias("w"))
    e = edges.select(*cols).repartition(F.col("s")).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, nodes


def _fixed_or_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int | None,
    bound: int,
    probe: Callable[[DataFrame], object],
    checkpoint_last: bool,
) -> DataFrame:
    """``state = step(state)`` for ``rounds`` rounds, or, when ``rounds``
    is None, until ``probe(state)`` (one small action) returns the value
    it returned the round before, at most ``bound`` rounds. Each round's
    state is ``localCheckpoint``-ed, except the last fixed round's when
    ``checkpoint_last`` is False."""
    seen = probe(state) if rounds is None else None
    for i in range(bound if rounds is None else rounds):
        state = step(state)
        if rounds is None or checkpoint_last or i < rounds - 1:
            state = state.localCheckpoint(eager=True)
        if rounds is None:
            now = probe(state)
            if now == seen:
                break
            seen = now
    return state


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    symmetric: bool = False,
) -> DataFrame:
    """Label every node of the undirected pair graph with the minimum
    node id reachable from it. Returns (node, component).

    Two-level dataflow (optimization round 10). Near-dup pair graphs —
    every caller here — are clique-heavy: a duplicate cluster of c
    documents arrives as ~c² pairs, and the previous implementation
    dragged that full relation through EVERY min-propagation round
    (measured: the 11.1M-edge DBSCAN core graph spent 13.7 s of a 15 s
    wall inside this loop). One "hash-to-min" contraction first
    (Karloff/Suri/Vassilvitskii-style star contraction) collapses each
    clique to its hub before any iteration:

    1. ``m(v) = min(v, min neighbor)`` — one map-side-combinable
       aggregate over the symmetric edge relation (no ``distinct``
       needed, so the old full-relation dedup shuffle is gone too);
    2. hub graph = distinct ``(m(u), m(v))`` per edge, self-loops
       dropped — two joins against the O(nodes) ``m`` relation
       (broadcast when small, AQE decides otherwise). A clique's edges
       all map to one hub, so the hub graph is ~O(nodes), not O(pairs);
    3. the min-label + pointer-jump loop runs on the HUB graph only;
    4. one final projection ``v → component(m(v))`` restores the full
       node set.

    Correctness: (v, m(v)) paths exist inside the original graph (m(v)
    is a neighbor or v itself) and every original edge (u, v) induces
    hub edge (m(u), m(v)), so components — and their min ids, which is
    what the loop computes — are exactly preserved; the component's
    global min g always satisfies m(g) = g and is itself a hub.

    The per-round convergence probe (join old vs new labels, count
    changes) is unchanged but now runs over the contracted relation —
    node ids may be strings (entity resolution clusters names), so the
    check must stay type-agnostic.
    """
    # ``symmetric=True`` declares the input already contains BOTH
    # directions of every edge (e.g. grid_dbscan's cell join emits all
    # ordered pairs) — re-symmetrizing would double every downstream
    # relation for nothing.
    sym = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        if symmetric
        else _both_ways(edges, src, dst)
    )
    m = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("hub"))
        .localCheckpoint(eager=True)
    )
    # Measured-size join strategy for the hub mapping (guide §3.1):
    # ``m`` is O(nodes) while ``sym`` is O(pairs) — on clique-heavy
    # near-dup graphs orders of magnitude larger. A localCheckpoint
    # carries no size statistics, so the planner (and AQE, which only
    # sees the stats after a shuffle stage it would already have run)
    # falls back to SortMergeJoin and drags the full pair relation
    # through TWO exchanges + sorts just to attach hub ids. ``m`` is
    # already materialized, so counting it is nearly free — broadcast
    # both mapping joins when the node map fits comfortably in memory,
    # keep the shuffle plan for genuinely huge node sets.
    hint = broadcast_hint(m.count())
    hubs = (
        sym.join(hint(m.select("a", F.col("hub").alias("ha"))), "a")
        .select(F.col("b"), F.col("ha"))
        .join(
            hint(m.select(F.col("a").alias("b"), F.col("hub").alias("hb"))),
            "b",
        )
        .select(F.col("ha").alias("a"), F.col("hb").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym.unpersist()
    labels = (
        hubs.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # Each hub hears its neighbors' current labels...
        msgs = hubs.join(
            labels.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), "component")
        # ...and adopts the minimum of (own label, heard labels).
        cand = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # Pointer jump (path-halving): every label is itself a node id,
        # so replace each node's label with that label's label. Labels
        # only ever decrease, and least() skips the null from the left
        # join when a label node has no entry yet.
        jump = cand.select(
            F.col("node").alias("component"), F.col("component").alias("jumped")
        )
        new_labels = (
            cand.join(jump, "component", "left")
            .select("node", F.least("component", "jumped").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "old"), "node"
            )
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # Project hub components back onto every original node. Hubs with no
    # hub edge (fully contracted components) label themselves. labels is
    # O(hub nodes) <= O(m) rows, so it broadcasts whenever m does.
    return m.join(
        hint(labels.withColumnRenamed("node", "hub")), "hub", "left"
    ).select(
        F.col("a").alias("node"),
        F.coalesce(F.col("component"), F.col("hub")).alias("component"),
    )


def pagerank_e12(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Deterministic PageRank on an exact integer grid: ranks live as
    int64 scaled by 1e12, damping 0.85 applied as ``* 85 div (100 *
    outdeg)`` — floor division, so every engine computes identical bits
    (the same convention as the k-means/centroid operators). Dangling
    mass is dropped rather than redistributed (documented determinism
    trade-off; the fixed teleport term 0.15e12 keeps ranks bounded).

    Scale shape per iteration: one join edges⋈ranks on src (shuffle on
    node id), one map-side-combinable aggregate on dst, one left join
    back to the node set — all key-partitioned, no driver state. With
    int64 grid ranks the contribution product stays < 2^63 for graphs
    up to ~10^5 average rank multipliers; pick a smaller grid for
    larger graphs. Fixed ``iters`` keeps the plan unrollable (and the
    DuckDB oracle expressible as chained CTEs).
    """
    # The static inputs are checkpointed ONCE (_keyed_edges): e/nodes
    # are re-consumed by every unrolled iteration, and ranks_i is
    # consumed twice by ranks_{i+1} — left lazy, the upstream edge
    # derivation (often an expensive join+distinct) re-executes
    # O(2^iters) times and the analyzer chews an exponentially growing
    # plan (measured 6.8s -> ~2s at sf0.1). The STATIC out-degree is
    # folded into the checkpointed edge rows (optimization round 10):
    # deg never changes across iterations, so joining it per round was
    # a per-iteration sort+join of the large edge relation for no new
    # information.
    e0, nodes = _keyed_edges(edges, src, dst)
    deg = e0.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    e = e0.join(deg, "s").localCheckpoint(eager=True)
    return _pagerank_rounds(
        e,
        nodes,
        nodes.withColumn("rank_e12", F.lit(10**12).cast("long")),
        F.expr("rank_e12 * 85 div (100 * deg)"),
        F.lit(15 * 10**10).cast("long"),
        iters,
    )


def _pagerank_rounds(
    e: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    contrib: Column,
    teleport: Column,
    iters: int,
) -> DataFrame:
    """``iters`` integer-grid PageRank rounds: every node's new
    ``rank_e12`` is ``teleport`` plus the sum of ``contrib`` (a per-edge
    expression over ``rank_e12`` and ``e``'s static columns) over its
    in-edges. The only per-round joins attach the O(V) rank/inflow
    relations, broadcast by measured node count (huge graphs keep the
    shuffle plan), so the checkpointed edge relation streams map-side
    with no per-round exchange or sort."""
    hint = broadcast_hint(nodes.count())
    for i in range(iters):
        contribs = (
            e.join(hint(ranks.withColumnRenamed("node", "s")), "s")
            .select(F.col("d").alias("node"), contrib.alias("c"))
        )
        inbound = contribs.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = nodes.join(hint(inbound), "node", "left").select(
            "node",
            (teleport + F.coalesce(F.col("inflow"), F.lit(0))).alias(
                "rank_e12"
            ),
        )
        if i < iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_personalized_e12(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    iters: int = 3,
) -> DataFrame:
    """Personalized (topic-sensitive) weighted PageRank (Haveliwala,
    WWW 2002) on the same exact integer grid as :func:`pagerank_e12`:
    teleport mass returns ONLY to the ``sources`` set, so ranks measure
    random-walk proximity to those seeds (the "expand a trusted seed
    set" primitive behind TrustRank-style curation and related-entity
    retrieval), and each node's outflow splits proportionally to
    integer edge WEIGHTS instead of uniformly.

    Determinism: ranks are int64 scaled 1e12; the per-edge contribution
    ``rank * 85 * w div (100 * wsum)`` runs in DECIMAL(38,0) (hugeint in
    the DuckDB twin) so the product cannot wrap for any int64 weight;
    floor division keeps every engine bit-identical. Teleport per seed
    is ``15e12 div (100 * |S|)``; dangling mass is dropped (same
    documented trade-off as pagerank_e12).

    Scale shape per iteration: identical to pagerank_e12 — the weighted
    edge relation is pre-partitioned on its join key and checkpointed
    once; only the O(V) rank relation shuffles per round.

    ``sources`` must be non-empty. Seeds that never appear in the edge
    relation (neither endpoint) are absent from the node set, so their
    share of the teleport mass is silently lost — total mass shrinks by
    ``15e12 * missing/|S|`` per round, the same drop-the-mass trade-off
    already documented for dangling nodes.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    n_s = len(sources)
    # Same shape as pagerank_e12: the static per-source weight sums
    # fold into the checkpointed edge rows once.
    e0, nodes = _keyed_edges(edges, src, dst, w)
    wsum = e0.groupBy("s").agg(
        F.sum(F.col("w").cast("decimal(38,0)")).alias("wsum")
    )
    e = e0.join(wsum, "s").localCheckpoint(eager=True)
    seed = F.col("node").isin(*sources)
    return _pagerank_rounds(
        e,
        nodes,
        nodes.select(
            "node",
            F.when(seed, F.lit(10**12 // n_s).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("rank_e12"),
        ),
        F.expr(
            "CAST(rank_e12 AS DECIMAL(38,0)) * 85 * w"
            " div (CAST(100 AS DECIMAL(38,0)) * wsum)"
        ),
        F.when(
            seed, F.lit((15 * 10**12) // (100 * n_s)).cast("long")
        ).otherwise(F.lit(0).cast("long")),
        iters,
    )


def dedup_clusters(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Cluster near-dup pairs: (doc_id, cluster_id, is_keeper) for every
    document that appears in at least one pair. ``cluster_id`` is the
    minimum doc id of the component — the canonical keeper."""
    comp = connected_components(pairs, src=src, dst=dst)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def cluster_size_histogram(
    clusters: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """Distribution of near-dup cluster sizes: (cluster_size, n_clusters,
    n_docs). The shape-of-duplication report every corpus dedup run ends
    with — a heavy tail here means a boilerplate template is flooding the
    corpus. Two map-side-combinable aggregates; output is O(distinct
    sizes), safe to collect at any corpus scale."""
    per_cluster = clusters.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return per_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected edge list — the standard
    graph-quality metric (clustering coefficient numerator).

    Compact-forward algorithm: canonicalize every edge to (lo, hi) with
    lo < hi and dedupe (one shuffle), then join edges (a,b) ⋈ (b,c) on the
    middle vertex and close the wedge with a hash-join probe on (a,c) —
    each triangle a<b<c is counted exactly once. Two equi-joins, no
    theta-join; the wedge relation is the size driver, bounded by
    sum(deg²) — at 100 TB, pre-filter high-degree hubs or sample wedges.
    Returns one row: (n_triangles).
    """
    e = _canonical_edges(edges, src, dst)
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return wedges.join(ac, ["a", "c"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int | None = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling — repeatedly drop vertices
    with degree < k and the edges touching them. ``rounds`` peels run;
    ``rounds=None`` peels until the edge count stops changing (at most
    ``_KCORE_MAX_ROUNDS``), which is the exact k-core.

    Scale: each round is one degree aggregate (map-side combinable) plus
    two semi-joins of the edge list against the surviving-vertex set —
    all equi-joins on vertex id, O(E) per round, no all-pairs anywhere.
    Returns the vertices of the peeled edge set with their remaining
    degree.
    """
    # localCheckpoint per round (optimization round 10): each round
    # references the previous edge set FOUR times (two degree-union
    # branches + two semi-joins), so the lazy chain grew the plan — and
    # the executed work, since Catalyst does not CSE — 4^rounds-fold
    # (the before plan carried 500 scans / 750 exchanges for rounds=3).
    # The checkpoint flattens each round to one O(E) job; results and
    # the chained-CTE oracle are unchanged.
    def peel(e: DataFrame) -> DataFrame:
        keep = _degrees(e).filter(F.col("deg") >= k).select("v")
        return e.join(
            keep.withColumnRenamed("v", "lo"), "lo", "left_semi"
        ).join(keep.withColumnRenamed("v", "hi"), "hi", "left_semi")

    e = _fixed_or_fixpoint(
        _canonical_edges(edges, src, dst).localCheckpoint(eager=True),
        peel,
        rounds,
        _KCORE_MAX_ROUNDS,
        DataFrame.count,
        checkpoint_last=True,
    )
    return _degrees(e)


def _degrees(e: DataFrame) -> DataFrame:
    """(v, deg) of the canonical edge set ``e``."""
    return (
        e.select(F.col("lo").alias("v"))
        .unionAll(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def bfs_hops(
    edges: DataFrame,
    source: int,
    rounds: int | None = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first hop distances from ``source`` over an undirected
    edge list. ``rounds`` relaxation rounds run, and distances >
    ``rounds`` are absent; ``rounds=None`` relaxes until the reached set
    stops growing (at most ``_BFS_MAX_ROUNDS``), so every vertex
    connected to ``source`` is present and unreachable ones are absent.

    Each round is one equi-join of the current distance set against the
    edge list plus a min-aggregate — O(E) per round, distances only ever
    shrink, so the result is partitioning-independent.
    """
    # Checkpoint the adjacency once and each round's distance set
    # (optimization round 10): dist is referenced twice per round
    # (join + union) and und once, so the lazy chain re-inlined the
    # edge derivation 2^rounds-fold (before plan: 28 scans). Results
    # and the chained-CTE oracle are unchanged.
    und = _both_ways(edges, src, dst).distinct().localCheckpoint(eager=True)

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = dist.join(und, dist["v"] == und["a"]).select(
            F.col("b").alias("v"), (F.col("d") + 1).alias("d")
        )
        return dist.unionAll(relaxed).groupBy("v").agg(F.min("d").alias("d"))

    dist = _fixed_or_fixpoint(
        edges.sparkSession.createDataFrame([(source, 0)], "v long, d int"),
        relax,
        rounds,
        _BFS_MAX_ROUNDS,
        DataFrame.count,
        checkpoint_last=False,
    )
    return dist.select("v", F.col("d").cast("int").alias("hops"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007): every node starts labeled with its own id; each round it
    adopts the MOST FREQUENT label among its neighbors, ties broken by
    the smallest label — the deterministic variant (classic LPA breaks
    ties randomly, which no distributed rerun or SQL oracle could
    reproduce). Distinct from :func:`connected_components`: frequency
    voting splits a connected graph into dense communities instead of
    flooding one min-label everywhere.

    ``rounds`` is fixed so the plan is a finite chain a SQL oracle
    mirrors with chained CTEs.

    Scale: per round one edges⋈labels equi-join, one (node, label)
    count aggregate (map-side combinable), one per-node argmax window —
    all partitioned by node id, O(E) per round.

    Returns (node, label).
    """
    sym = pin(_both_ways(edges, src, dst).distinct())
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )

    for _ in range(rounds):
        heard = sym.join(
            labels.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), "label")
        votes = heard.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("cnt"), F.col("label")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.select("node", F.col("label").cast("long").alias("label"))


def boruvka_mst_rounds(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    small_v: bool = False,
) -> DataFrame:
    """Borůvka minimum-spanning-forest rounds — the distributed-native MST
    algorithm (each round EVERY component picks its lightest outgoing
    edge, so components at least halve per round; O(log V) rounds total).
    Edge selection orders by (weight, lo, hi), a total order, so the
    chosen forest is unique even with duplicate weights — every chosen
    edge is MST-safe by the cut property.

    ``rounds`` is fixed (SQL-oracle contract, like :func:`kcore`);
    component merging after each round applies two min-label hops over
    the chosen-edge graph — enough to collapse the chosen stars of two
    rounds deterministically.

    Scale: per round one edges⋈labels join (O(E)), a per-component
    argmin window over candidate edges (partitioned by component —
    never global), and label hops over the O(V) chosen set.

    ``small_v=True`` asserts the VERTEX set fits on the driver (labels,
    chosen edges and the merge hops are all O(V)); the O(E) candidate
    join + per-component argmin stay fully distributed (labels join
    map-side via broadcast), but the chosen set is collected — bounded
    O(components) rows, like the Bloom-bitmap / k-centroid collects —
    and the 2-hop min-label merge replays driver-side in plain Python
    (bit-identical dataflow). One Spark job per round instead of ~7
    tiny shuffle jobs; the right plan for quotient / dimension-derived
    graphs where V << E. Leave False when V itself is data-scale: every
    relation then stays distributed (hash-shuffle joins, pointer hops
    with ``localCheckpoint`` to keep lineage flat).

    Returns the distinct chosen MST edges (lo, hi, w).
    """
    e = pin(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.col(weight).alias("w"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.min("w").alias("w"))
    )
    if small_v:
        return _boruvka_small_v(e, rounds)
    # Materialize the node set once and decide from its measured count
    # whether every O(V) label/hop relation broadcasts (optimization
    # round 10): labels is a localCheckpoint with no size statistics,
    # so the planner sort-merged the per-round candidate join and
    # re-exchanged the persisted O(E) edge relation every round.
    labels = (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    vhint = broadcast_hint(labels.count())
    chosen_all = None
    for _ in range(rounds):
        cand = (
            e.join(
                vhint(
                    labels.select(
                        F.col("node").alias("lo"), F.col("label").alias("la")
                    )
                ),
                "lo",
            )
            .join(
                vhint(
                    labels.select(
                        F.col("node").alias("hi"), F.col("label").alias("lb")
                    )
                ),
                "hi",
            )
            .filter(F.col("la") != F.col("lb"))
        )
        # NOTE (optimization round 10): the self-union double-evaluates
        # cand (no CSE across union branches). An explode rewrite was
        # A/B'd on q_mst_distributed and showed NO measurable win
        # (explode 10.0 s vs union 8.4/10.3 s across reps=3 sessions —
        # readings overlap): the two union branches run as concurrent
        # stages over the persisted e, so spare cores absorb the
        # duplicated work here. Kept as-is; the small-V variant keeps
        # the explode, where its single evaluation measured -11%.
        per_comp = cand.select(
            F.col("la").alias("comp"), "w", "lo", "hi", "la", "lb"
        ).unionAll(
            cand.select(
                F.col("lb").alias("comp"), "w", "lo", "hi", "la", "lb"
            )
        )
        wmin = Window.partitionBy("comp").orderBy("w", "lo", "hi")
        # chosen is O(components) and fans out to three consumers
        # (accumulator, label edges, both hop remaps): checkpoint it so
        # the e⋈labels candidate join + argmin window run ONCE per
        # round, not once per consumer.
        chosen = (
            per_comp.withColumn("rn", F.row_number().over(wmin))
            .filter(F.col("rn") == 1)
            .select("lo", "hi", "w", "la", "lb")
            .distinct()
            .localCheckpoint(eager=True)
        )
        chosen_all = (
            chosen.select("lo", "hi", "w")
            if chosen_all is None
            else chosen_all.unionAll(chosen.select("lo", "hi", "w")).distinct()
        )
        # Merge: min-label propagation over the chosen LABEL graph,
        # two hops (chosen edges form stars around each component's
        # pick; two hops collapse star-of-star chains).
        ledges = _both_ways(chosen, "la", "lb", "x", "y").distinct()
        lab_map = labels.select(F.col("label").alias("x")).distinct()
        for _hop in range(2):
            hop = (
                lab_map.alias("m")
                .join(vhint(ledges), "x", "left")
                .groupBy("x")
                .agg(F.least(F.min("y"), F.first("x")).alias("newx"))
            )
            # remap both the node labels and the label-edge endpoints
            # (hop/ledges are O(components) ≤ O(V) — broadcast under
            # the same measured gate as the candidate join above)
            labels = (
                labels.join(
                    vhint(
                        hop.select(
                            F.col("x").alias("label"), F.col("newx")
                        )
                    ),
                    "label",
                )
                .select("node", F.col("newx").alias("label"))
            )
            ledges = (
                ledges.join(
                    vhint(
                        hop.select(F.col("x"), F.col("newx").alias("nx"))
                    ),
                    "x",
                )
                .join(
                    vhint(
                        hop.select(
                            F.col("x").alias("y"), F.col("newx").alias("ny")
                        )
                    ),
                    "y",
                )
                .select(F.col("nx").alias("x"), F.col("ny").alias("y"))
                .filter(F.col("x") != F.col("y"))
                .distinct()
            )
            lab_map = labels.select(F.col("label").alias("x")).distinct()
        # one lineage cut per ROUND keeps the plan flat without paying
        # an eager job per hop relation.
        labels = labels.localCheckpoint(eager=True)
    return chosen_all.select(
        "lo", "hi", F.col("w").cast("long").alias("w")
    ).distinct()


def _boruvka_small_v(e: DataFrame, rounds: int) -> DataFrame:
    """Small-V Borůvka finish: distributed candidate argmin, driver-side
    2-hop min-label merge (exact replay of the distributed hop dataflow:
    hop(x) = least(min(neighbor labels), x), applied twice per round to
    both node labels and the chosen label-edge set)."""
    spark = e.sparkSession
    nodes = [
        r["node"]
        for r in e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .distinct()
        .collect()
    ]
    labels = {n: n for n in nodes}
    chosen_all = set()
    for _ in range(rounds):
        lab_df = spark.createDataFrame(
            [(int(n), int(l)) for n, l in labels.items()],
            "node bigint, label bigint",
        )
        cand = (
            e.join(
                F.broadcast(
                    lab_df.select(
                        F.col("node").alias("lo"), F.col("label").alias("la")
                    )
                ),
                "lo",
            )
            .join(
                F.broadcast(
                    lab_df.select(
                        F.col("node").alias("hi"), F.col("label").alias("lb")
                    )
                ),
                "hi",
            )
            .filter(F.col("la") != F.col("lb"))
        )
        # explode, not self-union: one evaluation of the broadcast
        # candidate join per round (see boruvka_mst_rounds above).
        per_comp = cand.select(
            F.explode(F.array(F.col("la"), F.col("lb"))).alias("comp"),
            "w",
            "lo",
            "hi",
            "la",
            "lb",
        )
        wmin = Window.partitionBy("comp").orderBy("w", "lo", "hi")
        chosen = {
            (r["lo"], r["hi"], r["w"], r["la"], r["lb"])
            for r in per_comp.withColumn("rn", F.row_number().over(wmin))
            .filter(F.col("rn") == 1)
            .select("lo", "hi", "w", "la", "lb")
            .collect()
        }
        chosen_all |= {(lo, hi, w) for lo, hi, w, _, _ in chosen}
        ledges = {(la, lb) for _, _, _, la, lb in chosen} | {
            (lb, la) for _, _, _, la, lb in chosen
        }
        for _hop in range(2):
            adj = {}
            for x, y in ledges:
                adj.setdefault(x, []).append(y)
            hop = {
                x: min(min(adj[x]) if x in adj else x, x)
                for x in set(labels.values())
            }
            labels = {n: hop[l] for n, l in labels.items()}
            ledges = {
                (hop[x], hop[y]) for x, y in ledges if hop[x] != hop[y]
            }
    return spark.createDataFrame(
        sorted(chosen_all), "lo bigint, hi bigint, w bigint"
    ).distinct()


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_deg: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction: for every NON-adjacent vertex pair
    (u, v) sharing >= 1 common neighbor, score = Σ_w 1/ln(deg(w)) over
    the common neighbors w — the classic "who should be connected"
    primitive (friend / co-purchase recommendation).

    Spark-first plan: canonical undirected edge set → symmetric
    adjacency → wedge self-join ON THE MIDDLE VERTEX (never all-pairs:
    candidates are O(Σ deg(w)²), not O(V²)) → one hash aggregate per
    (u, v) → anti-join against the edge set. ``max_deg`` caps middle
    degrees (hubs) BEFORE the wedge join — the Σ deg² blowup at scale
    comes from hot hubs, and an AA term through a hub is ~0 anyway
    (1/ln(deg) vanishes); same max_df discipline as
    :func:`~.dedup.jaccard_pairs`.

    Each AA term is materialized as an exact integer
    ``round(1e9 / ln(deg_w))`` so the per-pair SUM is partition-order
    deterministic (float Σ of irrationals is not).

    Returns (u, v, common, aa_scaled) with u < v.
    """
    # NOTE (optimization round 10): a repartition-on-wedge-key +
    # eager-cache-fill rewrite was A/B'd here and REJECTED (3.16 ->
    # 3.91 s): at bench scale the persisted wedge relation
    # auto-broadcasts, so the self-join already runs exchange-free with
    # one cache fill via the broadcast build — the extra exchange and
    # count jobs were pure overhead. Revisit only if the wedge relation
    # outgrows the broadcast threshold in production.
    und = pin(_canonical_edges(edges, src, dst))
    adj = _both_ways(und, "lo", "hi", "w", "u")
    # deg-1 middles can't form a wedge AND would divide by ln(1)=0 once
    # the term column materializes (ANSI sessions) — prune them here.
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg")).filter(
        F.col("deg") >= 2
    )
    if max_deg is not None:
        deg = deg.filter(F.col("deg") <= max_deg)
    # persisted: consumed TWICE by the wedge self-join — without the
    # cut, the whole edges→distinct→adj→deg lineage runs once per side.
    mid = pin(adj.join(deg, "w").withColumn(
        "term",
        F.round(F.lit(1.0e9) / F.log(F.col("deg").cast("double")), 0)
        .cast("long"),
    ))
    pairs = (
        mid.alias("a")
        .join(mid.alias("b"), "w")
        .filter(F.col("a.u") < F.col("b.u"))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.col("a.term")).cast("long").alias("aa_scaled"),
        )
    )
    return pairs.join(
        und.select(F.col("lo").alias("u"), F.col("hi").alias("v")),
        ["u", "v"],
        "left_anti",
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_deg: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction: for every NON-adjacent
    vertex pair (u, v) sharing >= ``min_common`` common neighbors,
    J(u, v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the normalized companion
    to :func:`adamic_adar` (same wedge plan, a size-invariant score).

    Spark-first plan: canonical undirected edges → symmetric adjacency
    → wedge self-join on the middle vertex (candidates are O(Σ deg²),
    never all-pairs; ``max_deg`` prunes hub middles exactly like
    adamic_adar) → hash aggregate per (u, v) → join FULL degrees of
    both endpoints → anti-join the edge set. The score is an exact
    integer: jaccard_ppm = (common * 1e6) div (deg_u + deg_v - common)
    — no float anywhere, bit-stable on any partitioning/engine.

    Returns (u, v, common, deg_u, deg_v, jaccard_ppm) with u < v.
    """
    # Same rejected-experiment note as adamic_adar (optimization round
    # 10): repartition-on-wedge-key + eager cache fills measured
    # neutral here (3.64 -> 3.54 s, within session noise) because the
    # persisted relations auto-broadcast at bench scale; kept in the
    # original single-persist form.
    und = pin(_canonical_edges(edges, src, dst))
    # A union of two projections of the pinned edge set, not
    # _both_ways' explode: in a 4-core A/B of q_neighbor_jaccard at
    # sf0.1 (5 alternating runs per side, best of 2 each) the explode
    # form's median wall was 4.243 s against this form's 3.905 s, a gap
    # larger than this form's IQR of 0.305 s.
    adj = und.select(
        F.col("lo").alias("w"), F.col("hi").alias("u")
    ).unionAll(und.select(F.col("hi").alias("w"), F.col("lo").alias("u")))
    # FULL degrees (uncapped) — the denominator must count every
    # neighbor; the cap below only prunes which middles generate wedges.
    deg = pin(adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg")))
    mid_deg = deg.filter(F.col("deg") >= 2)
    if max_deg is not None:
        mid_deg = mid_deg.filter(F.col("deg") <= max_deg)
    mid = pin(adj.join(mid_deg.select("w"), "w"))
    pairs = (
        mid.alias("a")
        .join(mid.alias("b"), "w")
        .filter(F.col("a.u") < F.col("b.u"))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    scored = (
        pairs.join(
            deg.select(F.col("w").alias("u"), F.col("deg").alias("deg_u")),
            "u",
        )
        .join(
            deg.select(F.col("w").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .select(
            "u",
            "v",
            "common",
            "deg_u",
            "deg_v",
            F.expr(
                "CAST((common * 1000000) div (deg_u + deg_v - common) "
                "AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.join(
        und.select(F.col("lo").alias("u"), F.col("hi").alias("v")),
        ["u", "v"],
        "left_anti",
    )


def markov_removal_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    conv: str = "purchase",
    horizon: int = 8,
) -> DataFrame:
    """Markov-chain removal-effect attribution: model user journeys as a
    first-order chain over event types (virtual START, absorbing
    conversion, absorbing END-of-stream), estimate transition
    probabilities from the event log, then for each channel ask "what
    fraction of conversions die if this channel vanishes?" — the
    data-driven alternative to last-touch attribution.

    The DISTRIBUTED stage is the transition estimate: one per-user
    window pass + a hash aggregate into O(types²) cells (integer ppm
    probabilities — exact ``div``). The chain solve (fixed ``horizon``
    value-iteration per removal scenario) touches only that O(types²)
    relation, so it replays driver-side in exact integer arithmetic —
    the same bounded-collect contract as the Borůvka small-V merge; the
    SQL oracle replays the identical integer recurrence as generated
    CTEs.

    Reach recurrence (all ints): r_0(state) = 1e6 if state==conv else
    0; r_{t+1}(s) = (Σ_d p_ppm(s,d)·r_t(d)) div 1e6 for transient s;
    absorbing states keep r. Removing channel c deletes every
    transition touching c (the lost mass converts nowhere).

    Returns one row per channel:
    (channel, reach_full_ppm, reach_removed_ppm, effect_ppm).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    seq = events.select(
        F.col(type_col).alias("t"),
        F.lead(type_col).over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    core = seq.filter(F.col("t") != conv).select(
        F.col("t").alias("src"),
        F.coalesce(F.col("nxt"), F.lit("END")).alias("dst"),
    )
    firsts = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("t").alias("dst")
    )
    trans = (
        core.unionAll(firsts)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wsrc = Window.partitionBy("src")
    ppm = trans.select(
        "src",
        "dst",
        F.expr(
            "(1000000 * n) div SUM(n) OVER (PARTITION BY src)"
        ).alias("p_ppm"),
    )
    rows = ppm.collect()  # O(types²) bounded state
    p = {(r["src"], r["dst"]): int(r["p_ppm"]) for r in rows}
    states = sorted({s for s, _ in p} | {d for _, d in p} | {conv, "END"})
    channels = sorted(
        s for s in states if s not in ("START", "END", conv)
    )

    def reach(removed: str | None) -> int:
        pp = {
            (s, d): v
            for (s, d), v in p.items()
            if removed is None or (s != removed and d != removed)
        }
        r = {s: (1_000_000 if s == conv else 0) for s in states}
        transient = {s for s, _ in pp}
        for _ in range(horizon):
            nxt = dict(r)
            for s in transient:
                acc = sum(
                    v * r[d] for (ss, d), v in pp.items() if ss == s
                )
                nxt[s] = acc // 1_000_000
            r = nxt
        return r.get("START", 0)

    full = reach(None)
    out = [
        (c, full, reach(c), full - reach(c)) for c in channels
    ]
    return events.sparkSession.createDataFrame(
        out,
        "channel string, reach_full_ppm bigint, "
        "reach_removed_ppm bigint, effect_ppm bigint",
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_deg: int | None = None,
) -> DataFrame:
    """Local clustering coefficient per vertex: the fraction of a
    vertex's neighbor pairs that are themselves connected — the
    community-density signal (near 1 inside cliques, near 0 on trees/
    hubs). For every triangle {a,b,c} each vertex is the middle of
    exactly one closed wedge, so triangles-at-v = closed wedges with
    middle v.

    Same wedge discipline as :func:`adamic_adar`: enumerate neighbor
    pairs through the middle vertex only (O(Σ deg²), ``max_deg``-
    cappable), close them with one hash semi-join against the canonical
    edge set, and emit integer-exact ppm ratios
    ``(2e6·tri) div (deg·(deg−1))`` — no float division.

    Returns (v, deg, n_triangles, coeff_ppm) for vertices with
    deg >= 2.
    """
    und = pin(_canonical_edges(edges, src, dst))
    adj = _both_ways(und, "lo", "hi", "w", "u")
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg")).filter(
        F.col("deg") >= 2
    )
    if max_deg is not None:
        deg = deg.filter(F.col("deg") <= max_deg)
    mid = pin(adj.join(deg, "w"))
    wedges = (
        mid.alias("a")
        .join(mid.alias("b"), "w")
        .filter(F.col("a.u") < F.col("b.u"))
        .select(
            F.col("w"),
            F.col("a.deg").alias("deg"),
            F.col("a.u").alias("lo"),
            F.col("b.u").alias("hi"),
        )
    )
    closed = wedges.join(und, ["lo", "hi"], "left_semi")
    tri = closed.groupBy("w", "deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    base = deg.select(F.col("w"), F.col("deg"))
    out = base.join(tri.select("w", "n_triangles"), "w", "left").select(
        F.col("w").alias("v"),
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
    )
    return out.withColumn(
        "coeff_ppm",
        F.expr("(2000000 * n_triangles) div (deg * (deg - 1))"),
    )


def hits_e6(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """Deterministic HITS (Kleinberg 1999) hub/authority scores on an
    exact integer grid: scores live as int64 scaled by 1e6, and each
    half-round renormalizes by the round's MAXIMUM via floor division
    (``score * 1000000 div max``) instead of the classical L2 norm — a
    monotone transform that preserves the HITS ranking while keeping
    every engine bit-identical (no sqrt, no float sums; same convention
    as :func:`pagerank_e12`).

    Per round: authority(i) = sum of hub(j) over in-edges (j -> i),
    rescaled to max 1e6; hub(j) = sum of authority(i) over out-edges
    (j -> i), rescaled to max 1e6.

    Scale shape per half-round: one edges-to-scores join keyed on the
    node id, one map-side-combinable SUM aggregate, one broadcast of the
    1-row max, one left join back to the node set. The (large) edge
    relation is pre-partitioned on ``s`` and checkpointed once, so the
    per-round joins reuse its partitioning; only the O(V) score relation
    shuffles per iteration. Fixed ``iters`` keeps the plan unrollable
    and the DuckDB oracle expressible as chained CTEs.
    """
    e, nodes = _keyed_edges(edges, src, dst)
    hub = nodes.withColumn("h", F.lit(10**6).cast("long"))
    auth = None
    for i in range(iters):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("h").alias("raw"))
        )
        a_max = a_raw.agg(F.max("raw").alias("mx"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.expr(
                    "coalesce(raw, 0) * 1000000 div greatest(mx, 1)"
                ).alias("a"),
            )
            .localCheckpoint(eager=True)
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("a").alias("raw"))
        )
        h_max = h_raw.agg(F.max("raw").alias("mx"))
        hub = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.expr(
                    "coalesce(raw, 0) * 1000000 div greatest(mx, 1)"
                ).alias("h"),
            )
        )
        if i < iters - 1:
            hub = hub.localCheckpoint(eager=True)
    return hub.join(auth, "node").select(
        "node",
        F.col("h").cast("long").alias("hub_e6"),
        F.col("a").cast("long").alias("auth_e6"),
    )


def sssp_rounds(
    edges: DataFrame,
    source: int,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> DataFrame:
    """Single-source shortest paths, fixed-round distributed Bellman-Ford
    over integer edge weights: ``iters`` relax rounds, each one
    edges-to-distances join (keyed on the node id) + a map-side-
    combinable MIN aggregate + a left join back to the node set — the
    weighted generalization of :func:`bfs_hops`, same unrollable shape,
    same chained-CTE oracle convention. Returns only nodes reached
    within ``iters`` hops (exact distances for paths of <= iters edges).

    Scale: the (large) edge relation is pre-partitioned on its join key
    and checkpointed once; only the O(V) distance relation shuffles per
    round. Integer weights keep every comparison exact.
    """
    e, nodes = _keyed_edges(edges, src, dst, w)
    dist = nodes.select(
        "node",
        F.when(F.col("node") == source, F.lit(0).cast("long")).alias("dist"),
    )
    for i in range(iters):
        cand = (
            e.join(
                dist.filter(F.col("dist").isNotNull()).withColumnRenamed(
                    "node", "s"
                ),
                "s",
            )
            .groupBy(F.col("d").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        dist = (
            nodes.join(cand, "node", "left")
            .join(dist.withColumnRenamed("dist", "prev"), "node", "left")
            .select(
                "node",
                F.least(
                    F.coalesce("prev", F.lit(None)),
                    F.coalesce("nd", F.lit(None)),
                ).alias("dist"),
            )
        )
        if i < iters - 1:
            dist = dist.localCheckpoint(eager=True)
    return dist.filter(F.col("dist").isNotNull()).select(
        "node", F.col("dist").cast("long").alias("dist")
    )


def coreness_hindex(
    edges: DataFrame,
    rounds: int | None = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node CORENESS via iterated neighbor h-indices (Lü, Zhou,
    Zhang, Stanley: "The H-index of a network node and its relation to
    degree and coreness", Nature Communications 2016): start from
    c₀ = degree; each round replaces every node's value with the
    h-index of its neighbors' values (the largest h such that ≥ h
    neighbors hold value ≥ h). The sequence decreases monotonically and
    converges to the node's core number — the full k-core decomposition
    in one relation, where :func:`kcore` answers only membership at one
    fixed k.

    ``rounds`` rounds run; values only decrease, so extra rounds past
    convergence are no-ops. ``rounds=None`` runs until the VALUE SUM
    stops changing (at most ``_CORENESS_MAX_ROUNDS``): values start at
    degree and never increase, so an unchanged sum means an unchanged
    relation, and Lü et al. prove that fixpoint is exactly the core
    number.

    Scale shape per round: one equi-join of the (pre-partitioned,
    checkpointed) symmetric edge list against the O(V) value relation +
    one per-node window whose partition size is the node's DEGREE (the
    h-index needs the neighbor multiset sorted once) + a max aggregate.
    The h-index extraction ``max(least(rank, value))`` is exact integer
    arithmetic — tie order inside equal values cannot change it.

    Returns (node, coreness) — after enough rounds, coreness is the
    node's exact core number.
    """
    und = _canonical_edges(edges, src, dst)
    sym = (
        _both_ways(und, "lo", "hi")
        .repartition(F.col("b"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("a").orderBy(F.col("cv").desc())

    def hindex(c: DataFrame) -> DataFrame:
        nb = sym.join(
            c.withColumnRenamed("v", "b").withColumnRenamed("c", "cv"), "b"
        ).select("a", "cv")
        return (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("a").alias("v"))
            .agg(F.max(F.least(F.col("rn"), F.col("cv"))).alias("c"))
        )

    c = _fixed_or_fixpoint(
        sym.groupBy(F.col("a").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True),
        hindex,
        rounds,
        _CORENESS_MAX_ROUNDS,
        lambda c: c.agg(F.sum("c")).collect()[0][0],
        checkpoint_last=False,
    )
    return c.select(
        F.col("v").alias("node"), F.col("c").cast("long").alias("coreness")
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: list[int],
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Harmonic closeness centrality from a handful of seed nodes:
    ``H(s) = Σ_{v≠s reachable} 1/d(s,v)`` truncated at ``rounds`` hops
    (Boldi & Vigna 2014 recommend harmonic over classic closeness
    precisely because unreachable nodes contribute 0, not ∞). Sampled
    seeds are the standard cluster-scale estimator — exact centrality
    for all nodes is O(V·E) and not a thing anyone runs on 100 TB.

    One multi-seed BFS: the distance relation is keyed (seed, node), so
    ALL seeds advance in the SAME per-round frontier⋈edges equi-join —
    k seeds cost one join of a k·|frontier| relation, not k passes.
    Distances only shrink (min-aggregate per round), so the result is
    partitioning-independent; each 1/d term lands on the integer 1e6
    grid via truncating division, making the final sum exact.

    Returns one row per seed: (source, n_reached, harmonic_e6).
    """
    # Explode-symmetrize (one pass over `edges`, not a self-union's
    # two) and eagerly checkpoint: the adjacency is consumed by EVERY
    # BFS round, and left lazy each round's join re-evaluates the
    # scan→explode→distinct chain. An eager localCheckpoint beats a
    # lazy persist here — all three round-joins land in ONE job, and
    # concurrent stages racing to fill an unmaterialized cache
    # duplicate the work they were meant to share (A/B: ckpt 2.4 s,
    # persist 3.4 s, lazy 2.9 s, self-union 3.2 s warm at sf0.1).
    und = _both_ways(edges, src, dst).distinct().localCheckpoint(eager=True)
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(s), int(s), 0) for s in sources], "s long, v long, d int"
    )
    for _ in range(rounds):
        step = dist.join(und, dist["v"] == und["a"]).select(
            "s", F.col("b").alias("v"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(step).groupBy("s", "v").agg(F.min("d").alias("d"))
        )
    return (
        dist.filter(F.col("v") != F.col("s"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("harmonic_e6"),
        )
        .select(F.col("s").alias("source"), "n_reached", "harmonic_e6")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the directed-both-ways edge
    list — positive when hubs attach to hubs (social shape), negative
    when hubs attach to leaves (star/bipartite shape). The one-number
    graph-health check a pipeline tracks alongside the degree
    distribution.

    Dataflow: distinct symmetric edges, endpoint degrees via two COUNT
    windows (the exchange on each endpoint key — no join, no second
    evaluation of the edge set), then exact DECIMAL(38,0) moment sums
    with ONE double sqrt at the end, floored to ppb (the spearman_corr
    convention). No all-pairs.
    """
    # Explode-symmetrize (one scan, not a self-union's two), then attach
    # endpoint degrees with two COUNT windows instead of a degree
    # aggregate joined back twice: in a symmetric edge relation the
    # in-degree of b equals its degree, so partitioning by a and then by
    # b yields deg(a)/deg(b) with zero joins and no recompute of the
    # distinct edge set (the old plan evaluated `sym` once per join
    # side).
    sym = _both_ways(edges, src, dst).distinct()
    xy = (
        sym.withColumn(
            "x", F.count(F.lit(1)).over(Window.partitionBy("a"))
        )
        .withColumn("y", F.count(F.lit(1)).over(Window.partitionBy("b")))
        .select(
            F.col("x").cast("decimal(38,0)").alias("x"),
            F.col("y").cast("decimal(38,0)").alias("y"),
        )
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            )
            / F.sqrt(
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                .cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("assortativity_ppb"),
    )


def modularity_q(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a given node partition over an undirected
    graph: ``Q = Σ_c (m_c/m − (d_c/2m)²)`` — the standard "is this
    clustering better than chance" score for community assignments
    (near-dup clusters, label propagation output, source groupings).

    Exact-integer form over the directed-both-ways edge relation
    (``M = 2m`` rows): ``Q = Σ_c (mc2·M − d_c²) / M²`` with ``mc2`` the
    within-community directed edge count — one truncating division onto
    the ppm grid at the end. Dataflow: two label joins onto the edge
    list (the label relation is O(V), edge list O(E) — the joins are
    the only shuffles), one O(communities) aggregate.

    Returns one row: (m_edges, n_communities, q_ppm).
    """
    sym = _both_ways(edges, src, dst).distinct()
    lab = labels.select(
        F.col(node_col).alias("ln"), F.col(label_col).alias("lc")
    )
    both = (
        sym.join(lab, F.col("a") == F.col("ln"))
        .select("a", "b", F.col("lc").alias("ca"))
        .join(
            lab.select(F.col("ln").alias("ln2"), F.col("lc").alias("cb")),
            F.col("b") == F.col("ln2"),
        )
        .select("ca", "cb")
    )
    per_c = both.groupBy("ca").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d_c"),
        F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("mc2"),
    )
    # M = Σ_c d_c (every directed edge lands in exactly one ca group),
    # and Σ_c (mc2·M − d_c²) = M·Σmc2 − Σd_c² — so ONE aggregate over
    # the O(communities) relation yields everything. The old form ran
    # a second full pass over `both` (sym + two label joins) just to
    # count M, then cross-joined it back in.
    s = per_c.agg(
        F.sum("d_c").alias("m2"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("mc2").alias("smc2"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("sd2"),
    ).select(
        F.col("m2"),
        F.col("n_communities"),
        (F.col("smc2") * F.col("m2") - F.col("sd2")).alias("qnum"),
    )
    return s.select(
        F.expr("CAST(m2 div 2 AS BIGINT)").alias("m_edges"),
        "n_communities",
        F.expr(
            "CAST(CASE WHEN m2 = 0 THEN 0"
            " ELSE (qnum * 1000000) div (m2 * m2) END AS BIGINT)"
        ).alias("q_ppm"),
    )


def ktruss_converged(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Run-to-convergence k-truss decomposition: peel edges whose
    triangle SUPPORT (common-neighbor count) is below k−2 until the
    edge set stabilizes — the edge-level strengthening of k-core
    (Cohen 2008): every surviving edge sits in ≥ k−2 triangles, so a
    k-truss is the standard "keep only community-grade ties" cleaner
    before clustering a similarity or co-occurrence graph.

    Spark-first rounds, the ``kcore(rounds=None)`` protocol: per
    round ONE oriented wedge self-join (a<b<c via the canonical lo<hi
    edge list) semi-verified against the edge set enumerates each
    triangle once; each triangle credits its three edges (union +
    hash aggregate — O(Σ deg²) wedge candidates, never all-pairs);
    edges below support are dropped and the survivor set is
    ``localCheckpoint``-ed so lineage stays flat. One O(1) count per
    round is the convergence probe; ``max_iter`` bounds the walk.

    Returns the surviving edges with their final support:
    (lo, hi, support) — empty when the graph has no k-truss.
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    need = int(k) - 2

    def _support(edge_set: DataFrame) -> DataFrame:
        # ONE oriented wedge join enumerates each triangle once; each
        # triangle credits its three edges via explode — a 3-way union
        # of projections of `tri` would inline (and recompute) the
        # wedge join three times per round (Catalyst does not CSE
        # across union branches; the before-plan showed 3 SortMergeJoin
        # pyramids feeding the Union).
        ab = edge_set.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        bc = edge_set.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
        ac = edge_set.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
        tri = (
            ab.join(bc, "b")
            .join(ac, ["a", "c"], "left_semi")
            .select("a", "b", "c")
        )
        return (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("lo"), F.col("b").alias("hi")
                        ),
                        F.struct(
                            F.col("b").alias("lo"), F.col("c").alias("hi")
                        ),
                        F.struct(
                            F.col("a").alias("lo"), F.col("c").alias("hi")
                        ),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )

    n_edges = e.count()
    for _ in range(max_iter):
        # Checkpoint the support relation: it is consumed by the peel
        # AND (on the convergence round) by the returned join — left
        # lazy, each consumer replays the full wedge enumeration.
        sup = _support(e).localCheckpoint(eager=True)
        survivors = (
            e.join(sup, ["lo", "hi"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= need)
            .select("lo", "hi")
            .localCheckpoint(eager=True)
        )
        n_next = survivors.count()
        if n_next == n_edges:
            # Converged: nothing was peeled this round, so `sup` —
            # computed over exactly the surviving edge set — already
            # describes the surviving subgraph. Returning it directly
            # saves one full wedge enumeration (the old code always
            # recomputed support once more after the loop).
            return (
                survivors.join(sup, ["lo", "hi"])
                .select("lo", "hi", "support")
            )
        e = survivors
        n_edges = n_next
    # max_iter exhausted without convergence: report support over the
    # final surviving subgraph (recompute once — `sup` above described
    # the pre-peel set).
    sup = _support(e)
    return e.join(sup, ["lo", "hi"]).select("lo", "hi", "support")


def betweenness_sample(
    edges: DataFrame,
    sources: list[int],
    max_depth: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001, k-source variant):
    run the forward BFS/path-count and backward dependency
    accumulation from a FIXED sample of sources and sum the
    dependencies — the standard way betweenness scales past toy
    graphs (exact Brandes is one BFS per vertex; sampling trades a
    bounded estimator error for a k/|V| cost factor, Bader et al.
    2007). Truncated at ``max_depth`` hops (graph-diameter bound at
    the call site).

    Spark-first and EXACT-integer: all k sources advance together in
    one frontier relation (s, v, sigma) — per level ONE frontier⋈adj
    join + hash aggregate, anti-joined against the visited set and
    ``localCheckpoint``-ed (flat lineage). The backward pass walks
    levels deepest-first; each successor term is the all-integer
    ``(sigma_v · (1e9 + delta_e9(w))) div sigma_w`` — truncating div
    on the 1e-9 grid instead of a float ratio, so the accumulated
    dependency is bit-stable under any partitioning or engine (float
    sums here are order-dependent; integer sums are not). Path counts
    ride DECIMAL(38,0) — sigma grows multiplicatively on dense
    graphs and would wrap int64.

    Returns (v, betweenness_e9) for vertices with nonzero dependency,
    summed over sources (sources themselves excluded at distance 0).
    """
    und = _canonical_edges(edges, src, dst)
    # Pre-partition the adjacency on its (only) join key before the
    # checkpoint so shuffle-plan fallbacks never re-exchange it, and
    # decide ONCE from the measured edge count whether the per-level
    # frontier/dependency relations (all O(k·V), bounded by k × the
    # adjacency size) broadcast — every forward and backward join then
    # streams the checkpointed adjacency map-side with no per-level
    # exchange or sort (optimization round 10; localCheckpoint carries
    # no size statistics, so without the explicit hint the planner
    # falls back to sort-merge on every level).
    adj = (
        _both_ways(und, "lo", "hi", "u", "w")
        .repartition(F.col("u"))
        .localCheckpoint(eager=True)
    )
    hint = broadcast_hint(adj.count() * max(1, len(sources)))

    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [(int(s), int(s), 1) for s in sources], ["s", "v", "sigma"]
    ).select(
        "s", "v", F.col("sigma").cast("decimal(38,0)").alias("sigma")
    )
    levels = [frontier.localCheckpoint(eager=True)]
    visited = levels[0].select("s", "v")
    for _ in range(int(max_depth)):
        nxt = (
            adj.join(hint(levels[-1]), levels[-1]["v"] == adj["u"])
            .groupBy("s", "w")
            .agg(F.sum("sigma").alias("sigma"))
            .select("s", F.col("w").alias("v"), "sigma")
            .join(hint(visited), ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = visited.unionAll(nxt.select("s", "v")).localCheckpoint(
            eager=True
        )
    # backward dependency accumulation on the 1e-9 integer grid
    delta = levels[-1].select(
        "s", "v", F.lit(0).cast("decimal(38,0)").alias("d")
    )
    acc = None
    for lvl in range(len(levels) - 2, -1, -1):
        cur, succ = levels[lvl], delta
        term = (
            adj.join(hint(cur.alias("c")), F.col("c.v") == adj["u"])
            .join(
                hint(succ.alias("x")),
                (F.col("x.s") == F.col("c.s"))
                & (F.col("x.v") == adj["w"]),
            )
            .join(
                hint(
                    levels[lvl + 1]
                    .alias("n")
                    .select(
                        F.col("n.s").alias("ns"),
                        F.col("n.v").alias("nv"),
                        F.col("n.sigma").alias("nsigma"),
                    )
                ),
                (F.col("ns") == F.col("c.s"))
                & (F.col("nv") == adj["w"]),
            )
            .select(
                F.col("c.s").alias("s"),
                F.col("c.v").alias("v"),
                F.expr(
                    "CAST((c.sigma * (1000000000 + x.d)) div nsigma"
                    " AS DECIMAL(38,0))"
                ).alias("t"),
            )
        )
        dlvl = (
            cur.select("s", "v")
            .join(
                hint(term.groupBy("s", "v").agg(F.sum("t").alias("d"))),
                ["s", "v"],
                "left",
            )
            .select(
                "s",
                "v",
                F.coalesce(F.col("d"), F.lit(0))
                .cast("decimal(38,0)")
                .alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        nonzero = dlvl.filter(F.col("d") > 0)
        if lvl > 0:  # level-0 vertices are the sources themselves
            acc = nonzero if acc is None else acc.unionAll(nonzero)
        delta = dlvl
    if acc is None:
        return spark.createDataFrame([], "v long, betweenness_e9 long")
    return (
        acc.groupBy("v")
        .agg(F.sum("d").cast("long").alias("betweenness_e9"))
        .select(F.col("v").cast("long").alias("v"), "betweenness_e9")
    )
