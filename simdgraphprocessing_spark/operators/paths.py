"""BFS / n-path — the reference's frontier loop
(``apps/n_path.cpp:58-83``): ``visited ∪= ⋃ N(frontier);
frontier = new_visited ∖ old_visited`` until empty or depth reached.

Spark realization: the frontier is a DataFrame of vertex ids;
each level is one join on the (persisted, src-partitioned) edge
table + distinct + left_anti against visited. The visited set is
checkpointed (localCheckpoint) every few levels to truncate lineage —
the distributed analog of the reference's three reusable bitsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import _local_ckpt_jrdd
from simdgraphprocessing_spark.operators.stats import max_degree_vertex


def bfs_levels(
    edges: DataFrame,
    start: int | None = None,
    max_depth: int = 1 << 30,
    checkpoint_every: int = 4,
    start_df: DataFrame | None = None,
) -> DataFrame:
    """(id, level) for every vertex reachable from ``start``
    (default: max-degree vertex, reference ``n_path.cpp:32-36``).

    ``start_df`` (a single-column ``id`` DataFrame) runs a
    multi-source BFS instead: level = hops from the NEAREST seed.
    """
    spark: SparkSession = edges.sparkSession
    # The frontier loop touches the edge table once per level; persist
    # it so an upstream ETL plan (e.g. the corpus self-join) runs once,
    # not once per level — the analog of the reference holding its CSR
    # in memory across the whole n_path loop (apps/n_path.cpp:58-83).
    edges = edges.select("src", "dst").persist()
    if start_df is not None:
        frontier = start_df.select(F.col("id").cast("long")).distinct()
    else:
        if start is None:
            start = max_degree_vertex(edges).collect()[0]["id"]
        frontier = spark.range(int(start), int(start) + 1)
    visited = frontier.withColumn("level", F.lit(0))
    level = 0
    frontiers = []
    # handle of the live localCheckpoint blocks, freed when replaced —
    # DataFrame.unpersist cannot reach them (see iteration._local_ckpt_jrdd)
    visited_ckpt = None
    while level < max_depth:
        nxt = (
            edges.join(
                frontier.withColumnRenamed("id", "src"), "src", "left_semi"
            )
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
        )
        nxt = nxt.persist()
        if nxt.isEmpty():
            nxt.unpersist()
            break
        level += 1
        visited = visited.union(nxt.withColumn("level", F.lit(level)))
        if level % checkpoint_every == 0:
            visited = visited.localCheckpoint(eager=True)
            if visited_ckpt is not None:
                visited_ckpt.unpersist(False)
            visited_ckpt = _local_ckpt_jrdd(visited)
        frontiers.append(nxt)
        frontier = nxt
    visited = visited.localCheckpoint(eager=True)
    if visited_ckpt is not None:
        visited_ckpt.unpersist(False)
    edges.unpersist()
    for f in frontiers:
        f.unpersist()
    return visited


def n_path_length(edges: DataFrame, start: int | None = None, n: int = 4) -> int:
    """The reference app's output: the path length reached by BFS,
    capped at query depth n (golden: 4 on directed facebook)."""
    lv = bfs_levels(edges, start=start, max_depth=n)
    row = lv.agg(F.max("level").alias("m")).collect()[0]
    return int(row["m"] or 0)
