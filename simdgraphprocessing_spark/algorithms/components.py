"""Connected components: min-label propagation on the superstep
driver (exact at convergence), instantiating the reference's
BFS-frontier template (``apps/n_path.cpp:58-83``) with label state.

new_label(v) = min(label(v), min_{u ∈ N(v)} label(u)); stop when no
label changed. Converges in O(diameter) supersteps on the symmetrized
edge table; each superstep is one join (edges pre-partitioned by src,
exchange reused) + one groupBy(dst) shuffle.

Scale note: on huge, high-diameter graphs the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce") cuts
supersteps to O(log² n); min-label is chosen here because it is exact
in a handful of supersteps on short-diameter link graphs and keeps
per-superstep cost minimal. The checkpoint/resume contract is what
makes long runs safe either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import IterationResult, run_supersteps


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 2,
) -> IterationResult:
    """State: (id, component) — component = min reachable vertex id.

    ``edges`` must be symmetrized (both directions present), as
    :func:`simdgraphprocessing_spark.graph.normalize_edges` produces.
    """
    spark = edges.sparkSession
    edges = edges.select("src", "dst").repartition("src").persist()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    init = vertices.select("id", F.col("id").alias("component"))

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        nbr_min = (
            edges.join(
                state.select(F.col("id").alias("src"), F.col("component").alias("c"))
                .hint("shuffle_hash"),  # V-sized side builds the hash; no E re-sort
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("c").alias("nbr_min"))
        )
        # counted while the driver materializes the new state
        changed = Observation()
        new = (
            state.join(nbr_min, "id", "left")
            .observe(changed, F.count_if(F.col("nbr_min") < F.col("component")).alias("changed"))
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        return new, {"changed": changed}

    result = run_supersteps(
        spark,
        init,
        step,
        max_iterations=max_iterations,
        converged=lambda m: m.get("changed", 1) == 0,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
    )
    edges.unpersist()
    return result
