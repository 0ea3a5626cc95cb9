"""End-to-end golden tests on deterministic fixture graphs —
the reference's test style (SURVEY §5) with brute-force numpy oracles."""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from simdgraphprocessing_spark.graph import (
    Graph,
    degree_rank_ids,
    normalize_edges,
    orient_by_degree,
)
from simdgraphprocessing_spark.operators import (
    bfs_levels,
    clique_count,
    common_neighbors,
    jaccard_pairs,
    lollipop_count,
    max_degree_vertex,
    n_path_length,
    similar_nodes,
    symbiosity,
    triangle_count,
    triangles_per_edge,
)
from simdgraphprocessing_spark.operators.motifs import (
    fish_count,
    tadpole_count,
    triangles_per_vertex,
)
from tests.conftest import (
    edge_df,
    k5_pairs,
    logical_plan,
    numpy_graph,
    two_triangles_bridge_pairs,
    zipf_random_pairs,
)


def tri_oracle(pairs):
    A = numpy_graph(pairs)
    return int(np.trace(A @ A @ A) // 6)


@pytest.mark.parametrize("method", ["join", "csr"])
def test_triangles_k5(spark, method):
    e = edge_df(spark, k5_pairs())
    assert triangle_count(e, method=method).collect()[0]["triangles"] == 10


@pytest.mark.parametrize("method", ["join", "csr"])
def test_triangles_bridge(spark, method):
    e = edge_df(spark, two_triangles_bridge_pairs())
    assert triangle_count(e, method=method).collect()[0]["triangles"] == 2


@pytest.mark.parametrize("method", ["join", "csr"])
def test_triangles_zipf_vs_bruteforce(spark, method):
    pairs = zipf_random_pairs()
    e = edge_df(spark, pairs)
    assert (
        triangle_count(e, method=method).collect()[0]["triangles"]
        == tri_oracle(pairs)
    )


def test_triangle_auto_cutover(spark, monkeypatch):
    """method="auto" (the default) runs the relational join plan at any
    size: no Python kernel in its plan, and the same count as the join
    plan and the oracle. The broadcast-CSR plan runs only when asked
    for, and above the broadcast cap it raises rather than switch
    plans; clique_count(method="auto") falls back to the join plan
    there."""
    from simdgraphprocessing_spark.operators import triangles

    pairs = zipf_random_pairs()
    e = edge_df(spark, pairs)
    want = tri_oracle(pairs)

    auto = triangle_count(e, method="auto")
    assert "MapInArrow" not in auto._jdf.queryExecution().analyzed().toString()
    assert auto.collect()[0]["triangles"] == want
    assert triangle_count(e, method="join").collect()[0]["triangles"] == want

    monkeypatch.setattr(triangles, "CSR_BROADCAST_VALUES", 1)
    with pytest.raises(ValueError, match="broadcast cap"):
        triangle_count(e, method="csr")
    with pytest.raises(ValueError, match="broadcast cap"):
        clique_count(e, 4, method="csr")
    fallback = clique_count(e, 4, method="auto")
    assert "MapInArrow" not in fallback._jdf.queryExecution().analyzed().toString()

    with pytest.raises(ValueError):
        triangle_count(e, method="nope")


def test_csr_counts_destroy_their_broadcast(spark, monkeypatch):
    """The csr triangle and clique counts destroy the CSR broadcast
    they build before returning: its driver-side pickle file is gone,
    the context's temp dir holds no more files than before, and a
    second call still counts correctly."""
    sc = spark.sparkContext
    made = []
    real_broadcast = sc.broadcast

    def recording_broadcast(value):
        made.append(real_broadcast(value))
        return made[-1]

    pairs = zipf_random_pairs()
    e = edge_df(spark, pairs)
    want_cliques = clique_count(e, 4, method="join").collect()[0]["cliques"]
    before = len(os.listdir(sc._temp_dir))
    monkeypatch.setattr(sc, "broadcast", recording_broadcast)
    for _ in range(2):
        assert triangle_count(e, method="csr").collect()[0]["triangles"] == tri_oracle(pairs)
        assert clique_count(e, 4, method="csr").collect()[0]["cliques"] == want_cliques
    assert len(made) == 4
    assert not [bc._path for bc in made if os.path.exists(bc._path)]
    assert len(os.listdir(sc._temp_dir)) <= before


def test_triangles_invariant_under_degree_relabel(spark):
    pairs = zipf_random_pairs()
    g = Graph.from_edge_list_degree_ordered(
        spark.createDataFrame(pairs, "src long, dst long")
    )
    assert triangle_count(g.edges).collect()[0]["triangles"] == tri_oracle(pairs)


def test_clique_counts(spark):
    e = edge_df(spark, k5_pairs())
    assert clique_count(e, 3).collect()[0]["cliques"] == 10
    assert clique_count(e, 4).collect()[0]["cliques"] == 5
    assert clique_count(e, 5).collect()[0]["cliques"] == 1
    e2 = edge_df(spark, two_triangles_bridge_pairs())
    assert clique_count(e2, 4).collect()[0]["cliques"] == 0


def test_bfs_levels_bridge(spark):
    e = edge_df(spark, two_triangles_bridge_pairs())
    lv = {r["id"]: r["level"] for r in bfs_levels(e, start=0).collect()}
    assert lv == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 3}
    assert n_path_length(e, start=0, n=10) == 3
    assert n_path_length(e, start=0, n=2) == 2


def bfs_oracle(A: np.ndarray, seeds, max_depth=1 << 30) -> dict:
    """Level-synchronous BFS over a dense adjacency matrix (``A[u, v]``
    for an edge u → v): ``{id: hops from the nearest seed}``. A seed
    outside ``A``'s ids reaches nothing and keeps level 0."""
    n = len(A)
    levels = {int(s): 0 for s in seeds}
    inside = [s for s in levels if s < n]
    visited = np.zeros(n, dtype=bool)
    visited[inside] = True
    frontier = visited.copy()
    depth = 0
    while frontier.any() and depth < max_depth:
        frontier = (frontier @ A > 0) & ~visited
        visited |= frontier
        depth += 1
        levels.update((int(v), depth) for v in np.flatnonzero(frontier))
    return levels


@pytest.mark.parametrize("directed", [False, True], ids=["symmetric", "directed"])
def test_bfs_levels_vs_numpy_oracle(spark, directed):
    """``bfs_levels`` on the zipf graph, both directions or low → high
    only, against a numpy BFS: from the default (max-out-degree) seed,
    a given start, a start that is no vertex, depths 0 and 2, and a
    ``start_df`` with a duplicate seed and one that is no vertex."""
    pairs = zipf_random_pairs(n=200, seed=7)
    if directed:
        A = np.zeros((200, 200), dtype=np.int64)
        A[tuple(np.array(pairs).T)] = 1
        edges = spark.createDataFrame(pairs, "src long, dst long")
    else:
        A = numpy_graph(pairs, n=200)
        edges = edge_df(spark, pairs)
    hub = int(A.sum(axis=1).argmax())  # first maximum: the smallest id
    outside = 10**6
    seeds = spark.createDataFrame([(5,), (5,), (outside,), (hub,)], "id long")
    cases = [
        (dict(), bfs_oracle(A, [hub])),
        (dict(start=5), bfs_oracle(A, [5])),
        (dict(start=outside), {outside: 0}),
        (dict(max_depth=0), {hub: 0}),
        (dict(max_depth=2), bfs_oracle(A, [hub], max_depth=2)),
        (dict(start_df=seeds), bfs_oracle(A, [5, outside, hub])),
    ]
    g = Graph(edges).persist()
    try:
        for kwargs, want in cases:
            got = {r["id"]: r["level"] for r in bfs_levels(g.edges, **kwargs).collect()}
            assert got == want, kwargs
        assert n_path_length(g.edges, n=2) == max(bfs_oracle(A, [hub], max_depth=2).values())
    finally:
        g.unpersist()


def test_max_degree_and_similar_nodes(spark):
    e = edge_df(spark, two_triangles_bridge_pairs())
    m = max_degree_vertex(e).collect()[0]
    assert (m["id"], m["degree"]) == (2, 3)  # ties 2 vs 3 → min id
    # N(2)={0,1,3}; overlap>0 for v∈{0,1,2,4,5}, v3 has N(3)={2,4,5} → 0
    s = similar_nodes(e, threshold=0).collect()[0]["similar"]
    assert s == 5
    cn = {(r["u"], r["v"]): r["cn"] for r in common_neighbors(e).collect()}
    assert cn[(0, 1)] == 1  # share vertex 2... and 0-1 adjacent


def test_symbiosity_undirected_all(spark):
    # undirected: in == out → Jaccard 1 for every non-isolated vertex
    e = edge_df(spark, k5_pairs())
    g = Graph(edges=e)
    assert (
        symbiosity(g.out_edges(), g.in_edges()).collect()[0]["symbiotic"] == 5
    )


def test_symbiosity_directed_disjoint(spark):
    # oriented DAG: in/out disjoint → 0
    e = spark.createDataFrame(k5_pairs(), "src long, dst long")
    g = Graph(edges=e, directed=True)
    assert (
        symbiosity(g.out_edges(), g.in_edges()).collect()[0]["symbiotic"] == 0
    )


def test_lollipop_count(spark):
    # triangle 0-1-2 with pendant 2-3: degs: 0:2,1:2,2:3,3:1
    e = edge_df(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    # Σ over the 1 triangle of deg(x)+deg(y)+deg(z) = 2+2+3 = 7
    assert lollipop_count(e).collect()[0]["lollipops"] == 7


def test_lollipop_vs_bruteforce(spark):
    pairs = zipf_random_pairs(n=120)
    A = numpy_graph(pairs)
    deg = A.sum(axis=1)
    tri_per_v = np.diag(A @ A @ A) // 2
    expect = int((tri_per_v * deg).sum())
    e = edge_df(spark, pairs)
    assert lollipop_count(e).collect()[0]["lollipops"] == expect


def test_degree_rank_ids_dense_and_ordered(spark):
    e = edge_df(spark, two_triangles_bridge_pairs())
    m = degree_rank_ids(e).orderBy("new_id").collect()
    assert [r["new_id"] for r in m] == list(range(6))
    degs = [r["degree"] for r in m]
    assert degs == sorted(degs, reverse=True)
    assert m[0]["id"] == 2  # deg 3, min id tie-break


def test_normalize_edges_dedup_loops(spark):
    raw = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)], "src long, dst long"
    )
    e = normalize_edges(raw)
    rows = {(r["src"], r["dst"]) for r in e.collect()}
    assert rows == {(1, 2), (2, 1), (2, 3), (3, 2)}
    assert orient_by_degree(e).count() == 2


def test_salt_hubs_two_phase_aggregation(spark):
    from simdgraphprocessing_spark.graph import degrees, salt_hubs

    # star hub 0 with 40 spokes + a small clique; hub_degree=10 marks
    # only vertex 0 as a hub
    pairs = [(0, i) for i in range(1, 41)] + [(100, 101), (101, 102), (100, 102)]
    e = edge_df(spark, pairs)
    salted = salt_hubs(e, hub_degree=10, salts=4)
    # hub edges spread across >1 salt; non-hubs all salt 0
    hub_salts = salted.filter(F.col("src") == 0).select("salt").distinct().count()
    assert hub_salts > 1
    assert (
        salted.filter(F.col("src") != 0).select("salt").distinct().collect()[0]["salt"]
        == 0
    )
    # two-phase aggregate (per (vertex, salt) partial, then per vertex)
    # equals the direct degree count — the skew-split is semantics-free
    partial = salted.groupBy("src", "salt").agg(F.count("*").alias("c"))
    two_phase = partial.groupBy(F.col("src").alias("id")).agg(
        F.sum("c").alias("degree")
    )
    direct = degrees(e)
    assert (
        two_phase.join(direct, ["id", "degree"]).count() == direct.count()
    )


# ---- attributed adjacency (reference *FromAttributeList,
# MutableGraph.hpp:362-516: attrs stay aligned with sorted nbr lists) ----


def _attr_edges(spark, triples):
    """(src, dst, attr) triples → symmetric attributed edge DF."""
    rows = [(int(a), int(b), int(x)) for a, b, x in triples]
    rows += [(b, a, x) for a, b, x in rows]
    return spark.createDataFrame(rows, "src long, dst long, yr long")


def test_adjacency_attr_alignment(spark):
    from simdgraphprocessing_spark.graph import adjacency

    # neighbor lists must come out sorted with attrs aligned per-slot
    tri = [(0, 2, 7), (0, 1, 9), (1, 2, 5)]
    adj = {r["id"]: r for r in adjacency(_attr_edges(spark, tri), attr="yr").collect()}
    assert adj[0]["nbrs"] == [1, 2] and adj[0]["attrs"] == [9, 7]
    assert adj[1]["nbrs"] == [0, 2] and adj[1]["attrs"] == [9, 5]
    assert adj[2]["nbrs"] == [0, 1] and adj[2]["attrs"] == [7, 5]
    assert all(r["degree"] == 2 for r in adj.values())


def test_adjacency_attr_directed(spark):
    """Directed attribute list (MutableGraph.hpp:724-892): out-adjacency
    only, attrs aligned — no symmetrization."""
    from simdgraphprocessing_spark.graph import adjacency

    df = spark.createDataFrame(
        [(0, 2, 7), (0, 1, 9), (2, 1, 3)], "src long, dst long, yr long"
    )
    adj = {r["id"]: r for r in adjacency(df, attr="yr").collect()}
    assert set(adj) == {0, 2}
    assert adj[0]["nbrs"] == [1, 2] and adj[0]["attrs"] == [9, 7]
    assert adj[2]["nbrs"] == [1] and adj[2]["attrs"] == [3]


def test_filter_adjacency_attrs_and_triangles(spark):
    from simdgraphprocessing_spark.graph import adjacency, filter_adjacency_attrs
    from simdgraphprocessing_spark.operators import triangles_from_adjacency

    # K4 on {0,1,2,3} all attr 1, plus a 2012-attr triangle 3-4-5
    k4 = [(i, j, 1) for i in range(4) for j in range(i + 1, 4)]
    extra = [(3, 4, 2012), (4, 5, 2012), (3, 5, 2012)]
    adj = adjacency(_attr_edges(spark, k4 + extra), attr="yr")

    f2012 = filter_adjacency_attrs(adj, lambda a: a == F.lit(2012))
    rows = {r["id"]: r for r in f2012.collect()}
    assert set(rows) == {3, 4, 5}
    assert rows[3]["nbrs"] == [4, 5]  # sorted invariant survives the filter
    assert triangles_from_adjacency(f2012).collect()[0]["triangles"] == 1

    f1 = filter_adjacency_attrs(adj, lambda a: a == F.lit(1))
    assert triangles_from_adjacency(f1).collect()[0]["triangles"] == 4


def test_triangles_from_adjacency_matches_edge_path(spark):
    from simdgraphprocessing_spark.graph import adjacency
    from simdgraphprocessing_spark.operators import triangles_from_adjacency

    pairs = zipf_random_pairs()
    e = edge_df(spark, pairs)
    got = triangles_from_adjacency(adjacency(e)).collect()[0]["triangles"]
    assert got == tri_oracle(pairs)


def test_clique_csr_join_parity_and_triangle_consistency(spark):
    """The broadcast-CSR clique recursion (intersect_chain/repackage
    path) must agree with the relational join plan, and k=3 with the
    triangle count."""
    pairs = zipf_random_pairs()
    g = Graph.from_edge_list_degree_ordered(
        spark.createDataFrame(pairs, "src long, dst long")
    )
    tri = triangle_count(g.edges).collect()[0]["triangles"]
    assert clique_count(g.edges, 3, method="csr").collect()[0]["cliques"] == tri
    for k in (3, 4):
        a = clique_count(g.edges, k, method="csr").collect()[0]["cliques"]
        b = clique_count(g.edges, k, method="join").collect()[0]["cliques"]
        assert a == b


@pytest.mark.parametrize(
    "op",
    [
        pytest.param(lambda e: triangle_count(e, method="auto"), id="triangle_count-auto"),
        pytest.param(lambda e: triangle_count(e, method="csr"), id="triangle_count-csr"),
        pytest.param(lambda e: triangle_count(e, method="join"), id="triangle_count-join"),
        pytest.param(triangles_per_edge, id="triangles_per_edge"),
        pytest.param(lambda e: clique_count(e, k=4, method="auto"), id="clique4-auto"),
        pytest.param(lambda e: clique_count(e, k=4, method="join"), id="clique4-join"),
        pytest.param(similar_nodes, id="similar_nodes"),
        pytest.param(jaccard_pairs, id="jaccard_pairs"),
        pytest.param(triangles_per_vertex, id="triangles_per_vertex"),
        pytest.param(tadpole_count, id="tadpole_count"),
        pytest.param(fish_count, id="fish_count"),
        pytest.param(lollipop_count, id="lollipop_count"),
    ],
)
@pytest.mark.parametrize(
    "pairs",
    [[], [(0, 0), (1, 1)], [(0, 1), (1, 0)]],
    ids=["empty", "self_loops_only", "single_edge"],
)
def test_counting_operators_on_degenerate_inputs(spark, op, pairs):
    """No triangle, clique, motif or neighbour-overlap exists on an
    empty table, on self-loops only or on one undirected edge: every
    counting operator returns a single zero or no rows, never an error."""
    rows = op(spark.createDataFrame(pairs, "src long, dst long")).collect()
    assert [tuple(r) for r in rows] in ([], [(0,)])


@pytest.fixture(scope="module")
def corpus_graph(spark):
    """The corpus graph as built (lazy, lineage and all) and persisted."""
    from simdgraphprocessing_spark.corpus import extract_edges, make_corpus

    built = Graph.from_edge_list_degree_ordered(
        extract_edges(make_corpus(spark, n_files=200, seed=42))
    )
    frozen = built.persist()
    yield built, frozen
    frozen.unpersist()


def test_persisted_graph_is_a_src_partitioned_leaf(spark, corpus_graph):
    """``Graph.persist()`` edges are one checkpoint leaf, partitioned on
    ``src`` into ``P`` partitions, ``P`` sized to the measured bytes of
    the rows: one partition for this sub-MiB graph, which Spark plans as
    ``SinglePartition``. A triangle or clique query over them plans only
    ``LogicalRDD`` leaves and as many nodes as over an in-memory table
    of the same rows, not the corpus build, and counts the same as over
    the unpersisted graph; PageRank ranks agree too. The leaf carries
    the measured size of the rows, so the small triangle query
    broadcasts its joins from the start instead of sort-merging."""
    from simdgraphprocessing_spark.algorithms import pagerank

    built, frozen = corpus_graph
    qe = frozen.edges._jdf.queryExecution()
    assert qe.analyzed().getClass().getSimpleName() == "LogicalRDD"
    assert 0 < qe.optimizedPlan().stats().sizeInBytes() < 1 << 20
    partitioning = qe.executedPlan().outputPartitioning().toString()
    assert partitioning == "SinglePartition", partitioning

    physical = triangle_count(frozen.edges)._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in physical and "SortMergeJoin" not in physical, physical

    table = spark.createDataFrame(frozen.edges.collect(), frozen.edges.schema)
    queries = {
        "triangles": triangle_count,
        "cliques": lambda e: clique_count(e, 4, method="join"),
    }
    for name, query in queries.items():
        nodes, leaves = logical_plan(query(frozen.edges))
        assert leaves == {"LogicalRDD"}, (name, leaves)
        assert nodes == logical_plan(query(table))[0], name
        assert query(frozen.edges).collect() == query(built.edges).collect(), name

    ranks = [
        dict(pagerank(g.edges, max_iterations=3).state.collect()) for g in (built, frozen)
    ]
    assert ranks[0].keys() == ranks[1].keys()
    assert np.allclose(
        [ranks[0][v] for v in ranks[0]], [ranks[1][v] for v in ranks[0]], rtol=0, atol=1e-6
    )


def test_persisted_graph_at_the_cap_is_hash_partitioned_on_src(spark, corpus_graph, partitions_at_cap):
    """With a 1-byte ``minPartitionSize`` the rule's ``P`` is the cap:
    the persisted leaf is ``hashpartitioning(src, spark.sql.shuffle.partitions)``."""
    frozen = corpus_graph[0].persist()
    try:
        n = spark.conf.get("spark.sql.shuffle.partitions")
        partitioning = frozen.edges._jdf.queryExecution().executedPlan().outputPartitioning().toString()
        assert re.fullmatch(rf"hashpartitioning\(src#\d+L?, {n}\)", partitioning), partitioning
    finally:
        frozen.unpersist()


def test_graph_unpersist_frees_the_leaf(spark):
    """``unpersist`` drops exactly the persisted edges' checkpoint RDD
    (relative count: the session is shared). A build the caller cached
    stays cached through ``persist``."""
    from pyspark import StorageLevel

    built = edge_df(spark, k5_pairs()).persist()
    g = Graph(built).persist()
    assert built.storageLevel != StorageLevel.NONE
    leaf_id = g.edges._jdf.queryExecution().analyzed().rdd().id()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    held = rdds().size()
    assert rdds().containsKey(leaf_id)
    g.unpersist()
    assert rdds().size() == held - 1 and not rdds().containsKey(leaf_id)
    built.unpersist()
