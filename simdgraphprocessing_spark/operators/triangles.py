"""Triangle counting — the reference's flagship query
(``apps/undirected_triangle_counting.cpp``).

Semantics: over a symmetrized, deduped, loop-free edge table, count
each triangle exactly once by orienting edges
(:func:`~simdgraphprocessing_spark.graph.orient_by_degree`, the
reference's edge_selection ``nbr < node``, ``:20-23``) and summing
|N⁺(u) ∩ N⁺(v)| over oriented edges (u,v) (core loop ``:45-56``).

Two plans behind three method values (default ``"auto"``):

* ``method="auto"`` / ``"join"``: the relational plan,
  :func:`~simdgraphprocessing_spark.operators.cliques.cliques` at
  k = 3 — two shuffle joins over the oriented edges (the closing edge
  as a ``left_semi``) and one aggregate. No Python runs at all (whole-
  stage codegen end to end) and nothing is broadcast, so it has no
  size limit. It is the default because it measures faster: on a
  2,000-file corpus graph (35,768 edge rows, ``local[4]``) a warm call
  took 0.49 s against the CSR plan's 0.91 s, on a 20,000-file graph
  (376,544 rows) 0.78 s against 1.03 s, and on the 2M-file graph at
  ``local[32]`` 11.2 s against 21.2 s. The CSR plan pays the Python
  boundary, the driver collect and the broadcast; its intersect
  kernel is a few percent of its wall.

* ``method="csr"``: the reference-shaped plan. The whole oriented CSR
  (ids/offsets/values numpy arrays) broadcasts once and ``mapInArrow``
  streams the oriented EDGE table through the batched intersect
  kernel — no per-edge list shipping, no join. This is the
  reference's execution model (shared in-memory CSR + streamed edge
  loop, ``undirected_triangle_counting.cpp:45-56``) with Spark
  broadcast standing in for shared memory. The count is EAGER: the
  broadcast is destroyed (executor blocks and the driver's pickle
  file) before the call returns, so the call runs the job and returns
  a one-row DataFrame of the total. A 10⁹-oriented-edge graph's CSR
  is ~8 GB, hence the ``CSR_BROADCAST_VALUES`` cap; above it
  ``method="csr"`` raises ``ValueError`` rather than switch plans.

Scale: orientation by degree-rank bounds every oriented list by
O(sqrt(E)) on power-law graphs, so the skew that would otherwise
melt the ``src`` shuffle is structurally removed — same reason the
reference orients before intersecting.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simdgraphprocessing_spark import kernels
from simdgraphprocessing_spark.graph import orient_by_degree
from simdgraphprocessing_spark.operators.cliques import cliques


def triangles_per_edge(edges: DataFrame) -> DataFrame:
    """(src, dst, tri_cnt): number of triangles closing each oriented
    edge; only edges closing ≥1 triangle appear."""
    return (
        cliques(edges, 3)
        .groupBy(F.col("v1").alias("src"), F.col("v2").alias("dst"))
        .agg(F.count("*").alias("tri_cnt"))
    )


def triangle_count(edges: DataFrame, method: str = "auto") -> DataFrame:
    """Single-row DataFrame ``(triangles bigint)`` — global count.

    ``"auto"`` (default) and ``"join"`` return the lazy relational
    plan; ``"csr"`` counts eagerly over a broadcast CSR it destroys
    before returning, and raises ``ValueError`` above the broadcast
    cap (see module docstring)."""
    if method not in ("auto", "csr", "join"):
        raise ValueError("method must be auto, csr or join")
    if method == "csr":
        res = csr_count(edges, _triangle_batch, "triangles")
        if res is None:
            raise ValueError(CSR_OVER_CAP)
        return res
    return cliques(edges, 3).agg(F.count("*").alias("triangles"))


def triangles_from_adjacency(adj: DataFrame) -> DataFrame:
    """Global triangle count straight from an adjacency table
    ``(id, nbrs array<long> sorted, ...)`` over the SYMMETRIZED graph —
    the consumer of :func:`~simdgraphprocessing_spark.graph.adjacency`
    with ``attr=...`` + ``filter_adjacency_attrs``: the reference runs
    edge_selection attribute predicates against the already-built
    attributed graph (``apps/undirected_fish_counting.cpp:33-36``) and
    then intersects, never re-reading the edge list; this is the same
    contract (filter the adjacency per row — narrow — then count here
    without re-grouping E).

    Plan: orient per row with a higher-order ``filter(nbrs, n > id)``
    (narrow, order-preserving), explode to oriented edges carrying the
    src list along, ONE hash join on dst for the dst list, Arrow
    intersect kernel, global sum. Returns ``(triangles bigint)``.

    Scale note: this ships each oriented list once per incident
    oriented edge, so degree-rank the ids first (``Graph.from_edge_list_degree_ordered``) to bound the
    oriented lists by O(sqrt(E)) on power-law graphs.
    """
    o = adj.select(
        "id", F.filter("nbrs", lambda n: n > F.col("id")).alias("nbrs")
    ).filter(F.size("nbrs") > 0)
    pairs = (
        o.select(
            F.col("id").alias("src"),
            F.explode("nbrs").alias("dst"),
            F.col("nbrs").alias("nbrs_src"),
        )
        .join(
            o.select(F.col("id").alias("dst"), F.col("nbrs").alias("nbrs_dst")), "dst"
        )
        .select("src", "dst", "nbrs_src", "nbrs_dst")
    )

    out_schema = "tri_cnt long"

    def count_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            a = batch.column("nbrs_src")
            b = batch.column("nbrs_dst")
            counts = kernels.intersect_count_many(
                a.offsets.to_numpy(),
                a.values.to_numpy(zero_copy_only=False),
                b.offsets.to_numpy(),
                b.values.to_numpy(zero_copy_only=False),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array([int(counts.sum())], pa.int64())], names=["tri_cnt"]
            )

    per_batch = pairs.mapInArrow(count_batches, out_schema)
    return per_batch.agg(F.coalesce(F.sum("tri_cnt"), F.lit(0)).alias("triangles"))


# oriented adjacencies up to this many values broadcast as a shared
# CSR (8 B/value → 400 MB at the cap). session.py sets
# spark.driver.maxResultSize=4g to clear the capped Arrow collect with
# headroom.
CSR_BROADCAST_VALUES = 50_000_000

CSR_OVER_CAP = (
    "oriented adjacency exceeds the CSR broadcast cap; "
    "use method='join' (scale path)"
)


def _collect_sorted_edges(e: DataFrame, cap: int):
    """Distributed CSR prep: range-partition + sort (src, dst) on the
    EXECUTORS, then collect the already-sorted flat columns via Arrow
    in partition order. The driver never sorts E — it concatenates
    pre-sorted int64 blocks (a memcpy) and runs ``np.unique`` on a
    sorted array (one linear scan). Returns ``(src, dst)`` numpy
    arrays, or None when the oriented edge count exceeds ``cap``
    (checked on the persisted sorted form — a cache-resident count,
    not a second lineage pass).
    """
    p = max(e.sparkSession.sparkContext.defaultParallelism, 8)
    se = (
        e.select("src", "dst")
        .repartitionByRange(p, "src", "dst")
        .sortWithinPartitions("src", "dst")
        .persist()
    )
    try:
        if se.count() > cap:
            return None
        tbl = se.toArrow()  # partition order == global (src, dst) order
        s = tbl.column("src").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        d = tbl.column("dst").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        return s, d
    finally:
        se.unpersist()


def broadcast_oriented_csr(e: DataFrame, cap: int = CSR_BROADCAST_VALUES):
    """Build + broadcast the oriented CSR of the ORIENTED edges ``e``
    from flat pre-sorted edge columns (never from per-row list
    objects). Returns the broadcast — value ``(ids, offsets, values,
    universe)`` with ``universe`` = the id-space size for density
    decisions — or None when the oriented edge count exceeds ``cap``.
    The caller owns the broadcast and ``destroy()``s it when done."""
    sorted_cols = _collect_sorted_edges(e, cap)
    if sorted_cols is None:
        return None
    s, values = sorted_cols
    # s is sorted — unique boundaries come from one linear scan
    ids, starts = np.unique(s, return_index=True)
    offsets = np.concatenate((starts, [len(s)])).astype(np.int64)
    universe = int(
        max(ids[-1] if len(ids) else -1, values.max() if len(values) else -1)
    ) + 1
    return e.sparkSession.sparkContext.broadcast((ids, offsets, values, universe))


def csr_row_bounds(ids: np.ndarray, offsets: np.ndarray, v: np.ndarray):
    """``(starts, ends)`` of each vertex's row in a CSR; an empty row
    for a vertex with no oriented out-edges."""
    i = np.searchsorted(ids, v)
    i_c = np.minimum(i, len(ids) - 1)
    ok = (i < len(ids)) & (ids[i_c] == v)
    return np.where(ok, offsets[i_c], 0), np.where(ok, offsets[i_c + 1], 0)


def csr_count(
    edges: DataFrame,
    batch_count: Callable[[np.ndarray, np.ndarray, tuple], int],
    name: str,
) -> DataFrame | None:
    """Eager broadcast-CSR count: orient ``edges``, broadcast their
    CSR, stream the oriented edges through
    ``batch_count(src, dst, csr)`` (one partial count per Arrow batch),
    collect the one total and destroy the broadcast. Returns a one-row
    ``(<name> bigint)`` DataFrame, or None when the oriented adjacency
    exceeds ``CSR_BROADCAST_VALUES``. The reference's ``par_for`` over
    CSR rows (``undirected_triangle_counting.cpp:45-56``); nothing
    E-sized shuffles.

    Eager because a lazy plan would still read the broadcast, which
    therefore could not be destroyed here; ``unpersist`` alone leaves
    the driver-side pickle file in ``sc._temp_dir`` until the session
    stops."""
    e = orient_by_degree(edges)
    bc = broadcast_oriented_csr(e, CSR_BROADCAST_VALUES)
    if bc is None:
        return None

    def count_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        csr = bc.value
        for batch in batches:
            # plain int64 for the kernels — parquet scans may deliver
            # dictionary-encoded vectors
            sv = batch.column("src").to_numpy(zero_copy_only=False).astype(np.int64)
            dv = batch.column("dst").to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array([batch_count(sv, dv, csr)], pa.int64())], names=["n"]
            )

    try:
        total = (
            e.select("src", "dst").mapInArrow(count_batches, "n long")
            .agg(F.coalesce(F.sum("n"), F.lit(0)))
            .collect()[0][0]
        )
    finally:
        bc.destroy()
    return edges.sparkSession.range(1).select(F.lit(total).cast("long").alias(name))


def _triangle_batch(sv: np.ndarray, dv: np.ndarray, csr: tuple) -> int:
    """Triangles closed by one batch of oriented edges:
    Σ |N⁺(src) ∩ N⁺(dst)| over the shared CSR."""
    ids, offsets, values, _universe = csr
    sa, ea = csr_row_bounds(ids, offsets, sv)
    sb, eb = csr_row_bounds(ids, offsets, dv)
    return int(kernels.intersect_count_pairs(sa, ea, sb, eb, values).sum())
