"""Vertex reorderings — the reference's physical-tuning knobs
(``MutableGraph.hpp:268-285`` degree orders, ``:179-198`` strong run,
``:203-207`` random). Each returns a mapping ``(id, new_id)`` to feed
:func:`simdgraphprocessing_spark.graph.reassign_ids`.

BFS order (``:126-172``) and shingle order (``:214-265``) are ported
as DETERMINISTIC analogs: the reference seeds them from
``rand()``/shuffled queues (not reproducible even against itself), so
we replace the random permutations with fixed affine hashes and seed
BFS at each component's minimum vertex — same locality/compression
intent, reproducible output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simdgraphprocessing_spark.functions.ranking import global_row_number
from simdgraphprocessing_spark.graph import degrees


def _rank(deg: DataFrame, order) -> DataFrame:
    return global_row_number(deg, order, out_col="new_id")


def reorder_by_degree(edges: DataFrame) -> DataFrame:
    """Descending degree, ties by old id (``:268-272``)."""
    return _rank(degrees(edges), [F.col("degree").desc(), F.col("id").asc()])


def reorder_by_rev_degree(edges: DataFrame) -> DataFrame:
    """Ascending degree (``:275-279``)."""
    return _rank(degrees(edges), [F.col("degree").asc(), F.col("id").asc()])


def reorder_strong_run(edges: DataFrame) -> DataFrame:
    """Largest neighborhood first, then its neighbors consecutively
    (``:179-198``): order vertices by (owner-hub degree desc, hub id,
    position in hub's sorted list). Approximated deterministically:
    each vertex is owned by its max-degree neighbor; hubs order their
    blocks by degree."""
    deg = degrees(edges)
    owner = (
        edges.join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("nd")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.max_by("dst", F.struct(F.col("nd"), (-F.col("dst")).alias("t"))).alias("owner"))
    )
    ranked = (
        deg.join(owner, "id", "left")
        .withColumn("owner", F.coalesce(F.col("owner"), F.col("id")))
        .join(
            deg.select(F.col("id").alias("owner"), F.col("degree").alias("owner_deg")),
            "owner",
        )
    )
    return global_row_number(
        ranked,
        [F.col("owner_deg").desc(), F.col("owner").asc(), F.col("id").asc()],
        out_col="new_id",
    ).select("id", "new_id", "degree")


def reorder_random(edges: DataFrame, seed: int = 42) -> DataFrame:
    """Deterministic pseudo-random permutation (hash order) — the
    reproducible stand-in for ``reorder_random`` (``:203-207``)."""
    deg = degrees(edges)
    return _rank(deg, [F.xxhash64(F.col("id"), F.lit(seed)).asc(), F.col("id").asc()])


# deterministic "random permutation" hashes for the shingle order —
# affine (a·id + b) mod P, the same family the dedup pipeline uses
_SHINGLE_P = 1_000_003
_SHINGLE_AB = [(180327, 773957), (689115, 438879)]


def reorder_by_shingles(edges: DataFrame) -> DataFrame:
    """Shingle / min-hash clustering order (``MutableGraph.hpp:214-265``,
    after the KDD'09 compression paper): each vertex's shingle is the
    neighbor minimizing a permutation's rank; vertices sort
    lexicographically by their shingles so vertices with overlapping
    neighborhoods (which share min-hash ranks) land near each other.

    The reference draws its two permutations from ``random_shuffle``;
    ours are deterministic affine hashes ``(a·nbr + b) mod P`` with a
    final id tie-break, so the order is reproducible run to run.
    """
    shingles = edges.groupBy(F.col("src").alias("id")).agg(
        *[
            F.min_by(
                "dst",
                # struct(hash, dst): equal hash ranks (ids congruent mod
                # P — guaranteed on >1M-vertex graphs) resolve to the
                # smallest neighbor id, keeping the order reproducible
                F.struct(
                    ((F.lit(a) * F.col("dst") + F.lit(b)) % F.lit(_SHINGLE_P)).alias("h"),
                    F.col("dst").alias("t"),
                ),
            ).alias(f"sh{i}")
            for i, (a, b) in enumerate(_SHINGLE_AB)
        ],
        F.count("*").alias("degree"),
    )
    return global_row_number(
        shingles,
        [F.col("sh0").asc(), F.col("sh1").asc(), F.col("id").asc()],
        out_col="new_id",
    ).select("id", "new_id", "degree")


def reorder_bfs(edges: DataFrame) -> DataFrame:
    """BFS visitation order (``MutableGraph.hpp:126-172``), made
    deterministic: the reference seeds each component from a
    ``random_shuffle``-ed queue; we seed every component at its
    minimum-id vertex (exactly what min-label propagation computes)
    and run ONE multi-source BFS, ordering by
    (component, level-from-seed, id).

    PRECONDITION: ``edges`` must be symmetrized (both directions
    present), as ``connected_components`` requires — on a one-direction
    table, vertices with only in-edges would silently drop from the
    mapping and ``reassign_ids`` would then drop their edges. Checked
    against the component state, which has one row per ``src ∪ dst``
    vertex; a shortfall raises ``ValueError``.
    """
    from simdgraphprocessing_spark.algorithms import connected_components
    from simdgraphprocessing_spark.operators.paths import bfs_levels

    cc = connected_components(edges).state  # (id, component=min id in comp)
    seeds = cc.select(F.col("component").alias("id")).distinct()
    lv = bfs_levels(edges, start_df=seeds)
    joined = cc.join(lv, "id").join(degrees(edges), "id")
    mapping = global_row_number(
        joined,
        [F.col("component").asc(), F.col("level").asc(), F.col("id").asc()],
        out_col="new_id",
    ).select("id", "new_id", "degree")
    n_vertices = cc.count()
    n_mapped = mapping.count()
    if n_mapped != n_vertices:
        raise ValueError(
            f"reorder_bfs: mapping covers {n_mapped} of {n_vertices} vertices — "
            "input edge table must be symmetrized (both directions present)"
        )
    return mapping


def reorder_by_the_game(edges: DataFrame) -> DataFrame:
    """The reference's hybrid ``reorder_by_the_game``
    (``MutableGraph.hpp:282-285``): BFS relabel, then degree order —
    net effect: degree-descending with ties broken by BFS id."""
    bfs = reorder_bfs(edges).select("id", F.col("new_id").alias("bfs_id"), "degree")
    return global_row_number(
        bfs,
        [F.col("degree").desc(), F.col("bfs_id").asc()],
        out_col="new_id",
    ).select("id", "new_id", "degree")
