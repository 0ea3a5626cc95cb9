"""BFS / n-path — the reference's frontier loop
(``apps/n_path.cpp:58-83``): ``visited ∪= ⋃ N(frontier);
frontier = new_visited ∖ old_visited`` until empty or depth reached.

Spark realization: a step of the superstep driver
(:mod:`simdgraphprocessing_spark.iteration`) framed like connected
components, over state ``(id, level)``: ``level`` is 0 for a seed and
null until reached. Superstep ``k`` joins the frontier ``level == k``
to the edge leaf, groups the hits by ``dst`` and sets ``level = k + 1``
on the unreached ones; it observes how many it reached, and the loop
stops at 0 or after ``max_depth`` supersteps. The default seed is
planned into the initial state: no job collects it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import edge_leaf, free_leaf, run_supersteps
from simdgraphprocessing_spark.operators.stats import max_degree_vertex


def bfs_levels(
    edges: DataFrame,
    start: int | None = None,
    max_depth: int = 1 << 30,
    start_df: DataFrame | None = None,
) -> DataFrame:
    """(id, level) for every vertex reachable from ``start``
    (default: max-degree vertex, reference ``n_path.cpp:32-36``).

    ``start_df`` (a single-column ``id`` DataFrame) runs a
    multi-source BFS instead: level = hops from the NEAREST seed.
    A seed that is no vertex of ``edges`` is returned at level 0.
    """
    spark = edges.sparkSession
    edges, vertices, layout = edge_leaf(edges)
    if start_df is not None:
        seeds = start_df.select(F.col("id").cast("long"))
    elif start is not None:
        seeds = spark.range(int(start), int(start) + 1)
    else:
        seeds = max_degree_vertex(edges).select("id")
    init = (  # one row per vertex and seed, partitioned on id
        vertices.select("id", F.lit(None).cast("int").alias("level"))
        .union(seeds.select("id", F.lit(0).alias("level")))
        .groupBy("id")
        .agg(F.min("level").alias("level"))
    )

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        frontier = state.filter(F.col("level") == k).select(F.col("id").alias("src"))
        hits = (
            edges.join(frontier.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.lit(True).alias("hit"))
        )
        # counted by the job that materializes the new state
        reached = Observation()
        new = (
            state.join(hits, "id", "left")
            .observe(reached, F.count_if(F.col("level").isNull() & F.col("hit")).alias("reached"))
            .select(
                "id",
                F.coalesce(F.col("level"), F.when(F.col("hit"), F.lit(k + 1))).alias("level"),
            )
        )
        return new, {"reached": reached}

    try:
        res = run_supersteps(
            spark, init, step, max_iterations=max_depth,
            converged=lambda m: m["reached"] == 0, layout=layout,
        )
    finally:
        if not layout.borrowed:
            free_leaf(edges)
    return res.state.filter(F.col("level").isNotNull())


def n_path_length(edges: DataFrame, start: int | None = None, n: int = 4) -> int:
    """The reference app's output: the path length reached by BFS,
    capped at query depth n (golden: 4 on directed facebook)."""
    lv = bfs_levels(edges, start=start, max_depth=n)
    row = lv.agg(F.max("level").alias("m")).collect()[0]
    return int(row["m"] or 0)
