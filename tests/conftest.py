from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    from simdgraphprocessing_spark.session import get_spark

    s = get_spark(app_name="tests")
    yield s
    s.stop()


@pytest.fixture
def partitions_at_cap(spark):
    """A 1-byte ``minPartitionSize`` for the test: every graph's
    partition count ``P`` is then ``spark.sql.shuffle.partitions``, the
    layout from before ``P`` was sized to a graph's bytes."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    before = spark.conf.get(key)
    spark.conf.set(key, "1b")
    yield
    spark.conf.set(key, before)


def edge_df(spark, pairs):
    """Undirected edge list (list of (u,v)) → normalized symmetric DF."""
    from simdgraphprocessing_spark.graph import normalize_edges

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )
    return normalize_edges(df)


# ---- deterministic fixture graphs (FIXTURES.md §F3) ----


def k5_pairs():
    return [(i, j) for i in range(5) for j in range(i + 1, 5)]


def two_triangles_bridge_pairs():
    # triangle 0-1-2, triangle 3-4-5, bridge 2-3
    return [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]


def zipf_random_pairs(n=300, seed=42, avg_deg=8):
    """Deterministic power-law-ish random graph via hashing (no RNG
    state) — same construction idea as the corpus generator."""
    import numpy as np

    rng = np.random.default_rng(seed)
    m = n * avg_deg // 2
    u = rng.integers(0, n, size=m * 3)
    v = (np.floor(n * rng.random(size=m * 3) ** 2.5)).astype(int)
    mask = u != v
    pairs = {
        (int(min(a, b)), int(max(a, b))) for a, b in zip(u[mask][:m], v[mask][:m])
    }
    return sorted(pairs)


def numpy_graph(pairs, n=None):
    """Dense adjacency matrix for brute-force oracles."""
    import numpy as np

    if n is None:
        n = max(max(a, b) for a, b in pairs) + 1
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in pairs:
        A[a, b] = 1
        A[b, a] = 1
    return A


def logical_plan(df) -> tuple[int, set[str]]:
    """Node count and leaf node classes of ``df``'s analyzed plan."""
    nodes, leaves = 0, set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        nodes += 1
        kids = node.children()
        if kids.size() == 0:
            leaves.add(node.getClass().getSimpleName())
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes, leaves
