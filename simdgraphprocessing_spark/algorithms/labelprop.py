"""Synchronous label propagation (community detection) on the
superstep driver.

Semantics (pinned by the numpy oracle in tests/test_labelprop.py,
deterministic by construction):

* labels start as vertex ids;
* each superstep every vertex adopts the most frequent label among
  its neighbors, ties broken by the SMALLEST label (deterministic —
  asynchronous/random variants are not reproducible, so we fix the
  synchronous min-tie-break variant);
* vertices keep their label when they have no neighbors;
* run a fixed number of supersteps or until no label changes
  (synchronous LPA can oscillate on bipartite structures, hence the
  iteration cap).

Each superstep: edges ⋈ labels on src → count per (dst, label) →
argmax via max_by over a (count, -label) struct — two shuffles and one
Spark job, all JVM-side.

Loop inputs are leaves (see :mod:`simdgraphprocessing_spark.iteration`):
the edges are checkpointed once, partitioned by src, and so is the
initial ``(id, id)`` state, partitioned by id to the same ``P`` — one
job each, so a call runs supersteps + 2 jobs, and neither side of the
edges ⋈ labels join shuffles. Edges persisted by ``Graph.persist()``
are read in place: supersteps + 1 jobs. Fault model: those leaves,
like every in-memory superstep's state, are executor-cached blocks
lost with an executor; only a ``checkpoint_dir`` run survives that,
and its resume rebuilds the leaves from ``edges``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import (
    IterationResult,
    edge_leaf,
    free_leaf,
    run_supersteps,
)


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 2,
) -> IterationResult:
    """State: (id, label). ``edges`` symmetrized."""
    spark = edges.sparkSession
    edges, vertices, layout = edge_leaf(edges)
    init = vertices.select("id", F.col("id").alias("label"))

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        counts = (
            edges.join(
                state.select(F.col("id").alias("src"), F.col("label").alias("l"))
                .hint("shuffle_hash"),  # V-sized side builds the hash; no E re-sort
                "src",
            )
            .groupBy(F.col("dst").alias("id"), F.col("l"))
            .agg(F.count("*").alias("cnt"))
        )
        best = counts.groupBy("id").agg(
            F.max_by(F.col("l"), F.struct(F.col("cnt"), (-F.col("l")).alias("nl"))).alias(
                "new_label"
            )
        )
        label = F.coalesce(F.col("new_label"), F.col("label"))
        # counted while the driver materializes the new state
        changed = Observation()
        new = (
            state.join(best, "id", "left")
            .observe(changed, F.count_if(label != F.col("label")).alias("changed"))
            .select("id", label.alias("label"))
        )
        return new, {"changed": changed}

    try:
        return run_supersteps(
            spark,
            init,
            step,
            max_iterations=max_iterations,
            converged=lambda m: m.get("changed", 1) == 0,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            layout=layout,
        )
    finally:
        if not layout.borrowed:
            free_leaf(edges)
