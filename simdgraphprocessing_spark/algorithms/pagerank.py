"""PageRank on the superstep driver.

The reference has no PageRank (its closest structure is the BFS
gather loop, ``apps/n_path.cpp:58-83``); semantics are pinned by our
numpy power-iteration oracle (tests/test_pagerank.py):

    r_{t+1}(v) = (1-d)/N + d · ( Σ_{u→v} r_t(u)/outdeg(u)
                                 + dangling_mass_t / N )

with d = 0.85, r_0 = 1/N, dangling mass redistributed uniformly.

Loop inputs are leaves (see :mod:`simdgraphprocessing_spark.iteration`):
:func:`build_shuffle_plan` checkpoints the ``src``-partitioned edges
and the ``(id, outdeg)`` vertex table once, observing V and the
dangling count while the vertex table is materialized (2 jobs), and
the initial state is checkpointed once more (1 job). No superstep plan
carries the caller's lineage.

Plan per superstep (all JVM-side, zero Python in the loop), one
exchange and one Spark job, so ``pagerank(10)`` runs 13 jobs:
  contribs = edges ⋈ state on src (the edge leaf is hash-partitioned
    by src; the state, materialized by a static plan, stays
    hash-partitioned by id with the same partition count, so neither
    side shuffles)
  → groupBy(dst).sum (THE exchange; map-side partial agg halves it)
  → state ⋈ contribs on id (co-partitioned: contribs is hashed on
    dst = id), a left join so zero-indegree vertices keep their row.

Driver scalars ride on that job: the L1 delta ``sum(abs(new-old))``
and the new state's dangling mass ``sum(rank) where outdeg is null``
are observed on the last join's rows while the driver materializes
the new state — like the reference's cardinality test, with no action
of their own. The next superstep reads the dangling mass from that
observation; the first superstep of a fresh run takes it from the plan
(``n_dangling / N``), and only a resumed run spends one action on it.

Fault model: the edge and vertex leaves, like every in-memory
superstep's state, are executor-cached blocks lost with an executor;
only a ``checkpoint_dir`` run survives that, and its resume rebuilds
the leaves from ``edges``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import (
    IterationResult,
    _static_local_checkpoint,
    edge_leaf,
    free_leaf,
    run_supersteps,
)


@dataclass
class ShufflePlanContext:
    """The shuffle plan's one-time layout: the src-partitioned edge
    leaf, the checkpointed (id, outdeg) vertex table, V, and the
    number of dangling vertices. Building it costs two jobs (the two
    checkpoints; V and the dangling count are observed on the second).
    Callers that time the layout build apart from the supersteps build
    it themselves and pass it to :func:`pagerank` — the supersteps are
    the same either way. :meth:`close` frees both leaves."""

    edges: DataFrame
    vtab: DataFrame
    n: int
    n_dangling: int

    @property
    def has_dangling(self) -> bool:
        return self.n_dangling > 0

    def close(self) -> None:
        free_leaf(self.edges)
        free_leaf(self.vtab)


def build_shuffle_plan(edges: DataFrame) -> ShufflePlanContext:
    edges, vertices = edge_leaf(edges)
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    # (id, outdeg) for every vertex; dangling => outdeg null. Both
    # sides are hash-partitioned on id already, so shuffle_hash joins
    # them in place (a broadcast would cost a job of its own). V and
    # the dangling count are observed by the checkpoint's own job; the
    # supersteps observe no dangling mass when nothing dangles (always
    # true for symmetrized graphs)
    stats = Observation()
    vtab = _static_local_checkpoint(
        edges.sparkSession,
        vertices.join(out_deg.hint("shuffle_hash"), "id", "left").observe(
            stats,
            F.count("*").alias("n"),
            F.count_if(F.col("outdeg").isNull()).alias("dangling"),
        ),
    )
    n, dangling = stats.get["n"], stats.get["dangling"]
    return ShufflePlanContext(edges, vtab, n, dangling)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int = 20,
    tol: float = 1e-10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    plan: ShufflePlanContext | None = None,
) -> IterationResult:
    """Returns IterationResult whose state is ``(id, rank)``.

    ``edges`` is a directed edge table (src, dst); for undirected
    graphs pass the symmetrized table. Vertices = src ∪ dst.

    An empty edge table has no vertices: the result is an empty
    ``(id, rank)`` state after zero supersteps.

    ``plan``: optional prebuilt :class:`ShufflePlanContext`. When
    given, the caller owns its lifetime (no close here) and ``edges``
    is ignored in favor of the plan's edge leaf.
    """
    spark = edges.sparkSession
    own_plan = plan is None
    if own_plan:
        plan = build_shuffle_plan(edges)
    try:
        result = _run(spark, plan, damping, max_iterations, tol, checkpoint_dir, checkpoint_every)
    finally:
        if own_plan:
            plan.close()
    result.state = result.state.select("id", "rank")
    return result


def _run(spark, plan, damping, max_iterations, tol, checkpoint_dir, checkpoint_every):
    edges, n, n_dangling = plan.edges, plan.n, plan.n_dangling
    if n == 0:
        # no vertices: nothing to iterate, and 1/N is undefined. The
        # state must not read plan.vtab, whose blocks close() frees
        return IterationResult(spark.createDataFrame([], "id long, rank double"), 0)

    # outdeg rides inside the state so the superstep needs no extra
    # vertex-table join to compute rank/outdeg
    init = plan.vtab.select("id", F.lit(1.0 / n).alias("rank"), "outdeg")

    compute_delta = tol > 0
    # observes the dangling mass of the state the next superstep reads
    # (None: r_0 = 1/N gives it from the plan, a resumed state by action)
    dangling_obs = None

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        nonlocal dangling_obs
        dangling = 0.0
        if dangling_obs is not None:
            dangling = dangling_obs.get["dangling"] or 0.0
        elif n_dangling and k == 0:
            dangling = n_dangling / n
        elif n_dangling:
            dangling = (
                state.filter(F.col("outdeg").isNull()).agg(F.sum("rank")).first()[0] or 0.0
            )
        # the E-sized join: the edge leaf stays put (hash-partitioned
        # by src); the V-sized rank side, co-partitioned with it,
        # builds the hash table (shuffle_hash — no 19M-row re-sort per
        # superstep)
        contribs = (
            edges.join(
                state.select(
                    F.col("id").alias("src"), (F.col("rank") / F.col("outdeg")).alias("w")
                ).hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("msum"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        joined = state.join(contribs.hint("shuffle_hash"), "id", "left")
        rank = F.lit(base) + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
        m = {"dangling_mass": float(dangling)}
        # the old rank and the outdeg are on the joined row: both
        # scalars are observed while the driver materializes the new state
        observed = []
        if compute_delta:
            observed.append(F.sum(F.abs(rank - F.col("rank"))).alias("l1_delta"))
        if n_dangling:
            observed.append(F.sum(F.when(F.col("outdeg").isNull(), rank)).alias("dangling"))
        if observed:
            obs = Observation()
            joined = joined.observe(obs, *observed)
            if compute_delta:
                m["l1_delta"] = obs
            if n_dangling:
                dangling_obs = obs
        new = joined.select("id", rank.alias("rank"), "outdeg")
        return new, m

    return run_supersteps(
        spark,
        init,
        step,
        max_iterations=max_iterations,
        converged=lambda m: m.get("l1_delta", 1.0) < tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
    )
