"""k-clique counting (``apps/n_clique.cpp:30-50``): recursive
intersection over orientation-filtered lists, counted once per clique.

Two physical strategies:

* ``method="join"``: grow a clique-prefix DataFrame one vertex at a
  time along oriented edges (v1 < v2 < ... < vk in degree-rank order),
  with a left_semi edge check against every earlier prefix vertex —
  the same candidate-set shrinking as C_d = C_{d-1} ∩ N(v_d),
  expressed as joins Catalyst can reorder/broadcast; AQE splits skewed
  hubs. Works at any scale (nothing is broadcast) but re-joins the
  oriented edge table at every depth. At k = 3 this is the triangle
  operator's join plan.

* ``method="csr"``: the reference's literal execution shape. The
  oriented CSR broadcasts once (the triangle operator's
  :func:`~simdgraphprocessing_spark.operators.triangles.csr_count`),
  the oriented edge stream maps through an Arrow batch kernel, and
  each batch (1) prefilters edges with a VECTORIZED common-neighbor
  count — only edges that can seat the remaining k−2 clique vertices
  enter the recursion, i.e. the triangle-closing edges, not the
  E-sized stream — then (2) runs the reference's recursion
  C_d = C_{d−1} ∩ N⁺(v_d) (``apps/n_clique.cpp:30-50``) with per-step
  density re-encoding via :func:`kernels.intersect_chain` /
  ``repackage`` (``src/set/ops/repackage.hpp:6-79``): the running
  candidate set flips to a packed bitmap while dense and back to a
  sorted array once it thins. No join at any depth; nothing E-sized
  shuffles. The count is eager: the broadcast is destroyed before the
  call returns a one-row DataFrame of the total.

``method="auto"`` (default) runs the CSR plan when the oriented
adjacency fits the broadcast cap and the join plan otherwise. Neither
plan wins everywhere, so both stay: on ego-Facebook 4-cliques the CSR
plan took 9.1 s against the join plan's 52.3 s (sf0.1 driver bench,
rounds 3/4), while on the 2,000- and 20,000-file corpus graphs
(``local[4]``) the join plan was faster, 0.83 vs 0.90 s and 1.23 vs
1.65 s.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simdgraphprocessing_spark import kernels
from simdgraphprocessing_spark.graph import orient_by_degree


def cliques(edges: DataFrame, k: int = 4) -> DataFrame:
    """DataFrame of k-cliques (v1 .. vk), each exactly once (v1<...<vk).

    Tuple MATERIALIZATION (reference ``n_clique.cpp`` with the
    aggregator swapped for tuple emission) — always the relational
    plan; the CSR path only counts."""
    if k < 2:
        raise ValueError("k >= 2")
    e = orient_by_degree(edges)
    cur = e.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
    for depth in range(3, k + 1):
        prev_last = f"v{depth - 1}"
        new_v = f"v{depth}"
        grown = cur.join(
            e.select(F.col("src").alias(prev_last), F.col("dst").alias(new_v)),
            prev_last,
        )
        # closure check: every earlier prefix vertex must link to new_v
        for i in range(1, depth - 1):
            grown = grown.join(
                e.select(F.col("src").alias(f"v{i}"), F.col("dst").alias(new_v)),
                [f"v{i}", new_v],
                "left_semi",
            )
        cur = grown.select(*[f"v{i}" for i in range(1, depth + 1)])
    return cur


def _extend_count(C: np.ndarray, remaining: int, nbr_slice) -> int:
    """The reference's n-clique recursion (``apps/n_clique.cpp:30-50``):
    ``C`` holds sorted candidates all adjacent to the whole prefix and
    greater than its last vertex; pick the next vertex c from C in
    order, narrow to C ∩ N⁺(c) (elements after c — orientation keeps
    the count at once per clique), recurse. ``remaining`` = vertices
    still to place; at 1 every candidate completes a clique.

    Per-candidate PYTHON recursion — acceptable because the vectorized
    common-neighbor prefilter in ``_clique_batch`` admits only
    triangle-closing edges (a vanishing fraction of a power-law edge
    stream), so the interpreter loop runs over candidate sets, not E.
    Known limit: k ≥ 5 on DENSE graphs multiplies candidates per level
    and the loop overhead would dominate — that regime wants a
    vectorized frontier (batch all level-d candidate sets into one
    ``intersect_count_pairs`` call) or the relational join plan, which
    remains available via ``method="join"``."""
    if remaining == 1:
        return len(C)
    total = 0
    for i in range(len(C) - remaining + 1):
        sub = kernels.intersect(C[i + 1 :], nbr_slice(int(C[i])))
        if len(sub) >= remaining - 1:
            total += _extend_count(sub, remaining - 1, nbr_slice)
    return total


def _clique_batch(depth: int, sv: np.ndarray, dv: np.ndarray, csr: tuple) -> int:
    """k-cliques seeded by one batch of oriented edges (a, b) over the
    shared CSR; ``depth`` = k − 2 vertices beyond the seed edge."""
    from simdgraphprocessing_spark.operators.triangles import csr_row_bounds

    ids, offsets, values, universe = csr

    def nbr_slice(c: int) -> np.ndarray:
        i = int(np.searchsorted(ids, c))
        if i >= len(ids) or ids[i] != c:
            return values[:0]
        return values[offsets[i] : offsets[i + 1]]

    sa, ea = csr_row_bounds(ids, offsets, sv)
    sb, eb = csr_row_bounds(ids, offsets, dv)
    # vectorized prefilter: one batched intersect pass gives
    # |N⁺(a)∩N⁺(b)| per edge; only edges able to seat the remaining
    # k−2 vertices enter the Python recursion — on power-law graphs
    # that's the triangle-closing edges, a vanishing fraction of the
    # stream
    counts = kernels.intersect_count_pairs(sa, ea, sb, eb, values)
    total = 0
    for i in np.nonzero(counts >= depth)[0]:
        cands = kernels.intersect_chain(
            [values[sa[i] : ea[i]], values[sb[i] : eb[i]]], universe
        )
        total += _extend_count(cands, depth, nbr_slice)
    return total


def clique_count(edges: DataFrame, k: int = 4, method: str = "auto") -> DataFrame:
    """Single row ``(cliques bigint)`` (reference golden: 30,004,668
    4-cliques on ego-Facebook).

    ``method="auto"``: the eager CSR count when the oriented adjacency
    fits the broadcast cap (the reference's recursive-intersection
    shape, no per-depth join), the lazy relational join plan otherwise;
    ``method="csr"`` raises ``ValueError`` above the cap (see module
    docstring)."""
    if k < 2:
        raise ValueError("k >= 2")
    if method not in ("auto", "csr", "join"):
        raise ValueError("method must be auto, csr or join")
    if method in ("auto", "csr") and k >= 3:
        from simdgraphprocessing_spark.operators.triangles import CSR_OVER_CAP, csr_count

        res = csr_count(edges, partial(_clique_batch, k - 2), "cliques")
        if res is not None:
            return res
        if method == "csr":
            raise ValueError(CSR_OVER_CAP)
    return cliques(edges, k).agg(F.count("*").alias("cliques"))
