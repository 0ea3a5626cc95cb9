"""Numpy oracles for every result the benchmark checks.

Inputs are the collected edge table as two int64 arrays over dense ids
``[0, n)`` (what ``Graph.from_edge_list_degree_ordered`` produces),
symmetrized: every undirected edge appears in both directions. The
semantics follow the engine's documented contracts, not its code:

* PageRank: ``r' = (1-d)/n + d * (sum_{u->v} r(u)/outdeg(u) + dangling/n)``
  from ``r = 1/n``, a fixed number of power iterations;
* connected components: min-label propagation until no label drops,
  counting supersteps the way the driver does (the last one changes
  nothing);
* label propagation: synchronous, most frequent neighbour label, ties to
  the smallest label, stopping early when nothing changes;
* triangles: each triangle once, over edges oriented low id -> high id.
"""

from __future__ import annotations

import numpy as np


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, iterations: int, damping: float = 0.85) -> np.ndarray:
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = r[outdeg == 0].sum()
        w = np.divide(r, outdeg, out=np.zeros(n), where=outdeg > 0)
        contrib = np.bincount(dst, weights=w[src], minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return r


def connected_components(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """``(component per vertex, supersteps)``; component = min id reachable."""
    label = np.arange(n, dtype=np.int64)
    steps = 0
    while True:
        nbr_min = np.full(n, np.iinfo(np.int64).max)
        np.minimum.at(nbr_min, dst, label[src])
        new = np.minimum(label, nbr_min)
        steps += 1
        changed = bool((new < label).any())
        label = new
        if not changed:
            return label, steps


def label_propagation(src: np.ndarray, dst: np.ndarray, n: int, max_iterations: int) -> tuple[np.ndarray, int]:
    """``(label per vertex, supersteps)``."""
    labels = np.arange(n, dtype=np.int64)
    steps = 0
    for _ in range(max_iterations):
        keys, counts = np.unique(dst * n + labels[src], return_counts=True)
        v, lab = keys // n, keys % n
        # per vertex: highest count first, then smallest label
        order = np.lexsort((lab, -counts, v))
        v, lab = v[order], lab[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = labels.copy()
        new[v[first]] = lab[first]
        steps += 1
        changed = bool((new != labels).any())
        labels = new
        if not changed:
            break
    return labels, steps


def oriented_csr(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(u, v, offsets)``: oriented edges u < v sorted by (u, v), and
    CSR offsets so that N+(x) = v[offsets[x]:offsets[x + 1]]."""
    keep = src < dst
    u, v = src[keep], dst[keep]
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    n = int(max(src.max(initial=-1), dst.max(initial=-1))) + 1
    offsets = np.searchsorted(u, np.arange(n + 1))
    return u, v, offsets


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Closes every wedge u -> v -> w (u < v < w) against the edge set."""
    u, v, offsets = oriented_csr(src, dst)
    if len(u) == 0:
        return 0
    n = len(offsets) - 1
    lens = offsets[v + 1] - offsets[v]
    total = int(lens.sum())
    within = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    w = v[np.repeat(offsets[v], lens) + within]
    wedge_keys = np.repeat(u, lens) * n + w
    edge_keys = u * n + v  # sorted: (u, v) are lexsorted
    pos = np.minimum(np.searchsorted(edge_keys, wedge_keys), len(edge_keys) - 1)
    return int((edge_keys[pos] == wedge_keys).sum())


def merge_ops(src: np.ndarray, dst: np.ndarray) -> int:
    """Sum of |N+(u)| + |N+(v)| over oriented edges: the element
    comparisons a merge intersection makes (a computed count)."""
    u, v, offsets = oriented_csr(src, dst)
    deg = np.diff(offsets)
    return int(deg[u].sum() + deg[v].sum())
