"""PageRank on the superstep driver.

The reference has no PageRank (its closest structure is the BFS
gather loop, ``apps/n_path.cpp:58-83``); semantics are pinned by our
numpy power-iteration oracle (tests/test_pagerank.py):

    r_{t+1}(v) = (1-d)/N + d · ( Σ_{u→v} r_t(u)/outdeg(u)
                                 + dangling_mass_t / N )

with d = 0.85, r_0 = 1/N, dangling mass redistributed uniformly.

Plan per superstep (all JVM-side, zero Python in the loop), one
exchange and one Spark job (plus a dangling-mass action when some
vertex dangles):
  contribs = edges ⋈ state on src (edges pre-partitioned by src and
    persisted; the state, materialized by a static plan, stays
    hash-partitioned by id with the same partition count, so neither
    side shuffles)
  → groupBy(dst).sum (THE exchange; map-side partial agg halves it)
  → state ⋈ contribs on id (co-partitioned: contribs is hashed on
    dst = id), a left join so zero-indegree vertices keep their row.

Convergence: L1 delta ``sum(abs(new-old))`` observed on that last
join's rows while the driver materializes the new state — one scalar
to the driver per superstep, like the reference's cardinality test,
and no action of its own.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import IterationResult, run_supersteps


@dataclass
class ShufflePlanContext:
    """The shuffle plan's one-time layout: src-partitioned persisted
    edges, the persisted (id, outdeg) vertex table, V, and whether any
    vertex dangles. Building it costs one action (a single aggregate
    over vtab that materializes it and yields V and the dangling
    count). Callers that time the layout build apart from the
    supersteps build it themselves and pass it to :func:`pagerank` —
    the supersteps are the same either way."""

    edges: DataFrame
    vtab: DataFrame
    n: int
    has_dangling: bool

    def close(self) -> None:
        self.edges.unpersist()
        self.vtab.unpersist()


def build_shuffle_plan(edges: DataFrame) -> ShufflePlanContext:
    edges = edges.select("src", "dst").repartition("src").persist()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    # (id, outdeg) for every vertex; dangling => outdeg null
    vtab = vertices.join(out_deg, "id", "left").persist()
    # dangling-mass handling needs a per-superstep driver scalar; the
    # supersteps skip that action entirely when the graph has no
    # dangling vertices (always true for symmetrized graphs)
    n, dangling = vtab.agg(F.count("*"), F.count_if(F.col("outdeg").isNull())).first()
    return ShufflePlanContext(edges, vtab, n, dangling > 0)


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
    given, the caller owns its lifetime (no unpersist here) and
    ``edges`` is ignored in favor of the plan's persisted copy.
    """
    spark = edges.sparkSession
    own_plan = plan is None
    if own_plan:
        plan = build_shuffle_plan(edges)
    edges, vtab, n, has_dangling = plan.edges, plan.vtab, plan.n, plan.has_dangling
    if n == 0:
        # no vertices: nothing to iterate, and 1/N is undefined
        if own_plan:
            plan.close()
        return IterationResult(vtab.select("id", F.lit(0.0).alias("rank")), 0)

    # outdeg rides inside the state so the superstep needs no extra
    # vertex-table join to compute rank/outdeg
    init = vtab.select("id", F.lit(1.0 / n).alias("rank"), "outdeg")

    compute_delta = tol > 0

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        dangling = 0.0
        if has_dangling:
            dangling = (
                state.filter(F.col("outdeg").isNull())
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
        # the E-sized join: edges stay put (pre-partitioned by src,
        # persisted); the V-sized rank side, co-partitioned with them,
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
        if compute_delta:
            # the old rank is on the joined row: the delta is observed
            # while the driver materializes the new state
            obs = Observation()
            joined = joined.observe(obs, F.sum(F.abs(rank - F.col("rank"))).alias("l1_delta"))
            m["l1_delta"] = obs
        new = joined.select("id", rank.alias("rank"), "outdeg")
        return new, m

    result = run_supersteps(
        spark,
        init,
        step,
        max_iterations=max_iterations,
        converged=lambda m: m.get("l1_delta", 1.0) < tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
    )
    if own_plan:
        plan.close()
    result.state = result.state.select("id", "rank")
    return result
