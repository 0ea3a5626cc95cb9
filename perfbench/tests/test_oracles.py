"""The numpy oracles against plain-loop references on small graphs."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from perfbench import oracles


def random_graph(n: int, m: int, seed: int):
    """Symmetrized, deduplicated, loop-free edges over dense ids [0, n)."""
    rng = np.random.default_rng(seed)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    pairs |= {(b, a) for a, b in pairs}
    pairs |= {(i, i + 1) for i in range(n - 1)} | {(i + 1, i) for i in range(n - 1)}
    src, dst = (np.array(x, dtype=np.int64) for x in zip(*sorted(pairs)))
    return src, dst


def neighbours(src, dst, n):
    nb = [[] for _ in range(n)]
    for a, b in zip(src.tolist(), dst.tolist()):
        nb[b].append(a)
    return nb


GRAPHS = [random_graph(30, 60, 1), random_graph(60, 200, 2), random_graph(12, 50, 3)]


@pytest.mark.parametrize("src, dst", GRAPHS)
def test_pagerank_matches_dense_power_iteration(src, dst):
    n = int(src.max()) + 1
    a = np.zeros((n, n))
    a[src, dst] = 1.0
    outdeg = a.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = 0.15 / n + 0.85 * (a.T @ (r / outdeg))
    np.testing.assert_allclose(oracles.pagerank(src, dst, n, 10), r, rtol=1e-12)


def test_pagerank_spreads_dangling_mass():
    src, dst = np.array([0, 1]), np.array([1, 2])  # vertex 2 dangles
    r = oracles.pagerank(src, dst, 3, 30)
    assert r.sum() == pytest.approx(1.0)


@pytest.mark.parametrize("src, dst", GRAPHS + [(np.array([0, 1, 3, 4]), np.array([1, 0, 4, 3]))])
def test_components_are_min_ids_and_supersteps_count_the_last_idle_one(src, dst):
    n = int(max(src.max(), dst.max())) + 1
    nb = neighbours(src, dst, n)
    label, steps = list(range(n)), 0
    while True:
        new = [min([label[v]] + [label[u] for u in nb[v]]) for v in range(n)]
        steps += 1
        if new == label:
            break
        label = new
    got, got_steps = oracles.connected_components(src, dst, n)
    assert got.tolist() == label and got_steps == steps


@pytest.mark.parametrize("src, dst", GRAPHS)
def test_label_propagation_matches_loop(src, dst):
    n = int(src.max()) + 1
    nb = neighbours(src, dst, n)
    labels, steps = list(range(n)), 0
    for _ in range(5):
        new = []
        for v in range(n):
            counts = {}
            for u in nb[v]:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.values())
            new.append(min(lab for lab, c in counts.items() if c == best))
        steps += 1
        changed = new != labels
        labels = new
        if not changed:
            break
    got, got_steps = oracles.label_propagation(src, dst, n, 5)
    assert got.tolist() == labels and got_steps == steps


@pytest.mark.parametrize("src, dst", GRAPHS)
def test_triangles_and_merge_ops_match_brute_force(src, dst):
    n = int(src.max()) + 1
    edges = set(zip(src.tolist(), dst.tolist()))
    brute = sum(
        1 for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    assert oracles.triangle_count(src, dst) == brute
    out = {}
    for a, b in edges:
        if a < b:
            out.setdefault(a, []).append(b)
    expected = sum(len(out.get(a, [])) + len(out.get(b, [])) for a, b in edges if a < b)
    assert oracles.merge_ops(src, dst) == expected
