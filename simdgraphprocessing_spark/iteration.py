"""Superstep driver with checkpoint/resume — the distributed
generalization of the reference's frontier loop
(``apps/n_path.cpp:58-83``: per-thread buffers → tree merge → global
union → difference → convergence test).

Contract: a superstep is a pure function
``state_df -> (new_state_df, metrics_dict)``. A metric whose value is
a :class:`pyspark.sql.Observation` (observed on ``new_state_df`` under
the metric's own name) is read once the new state is materialized, so
convergence measures cost no action of their own.

Loop inputs are leaves. The reference builds its immutable CSR
(``src/SparseMatrix.hpp:12-68``) once and every query loop reads only
that; here :func:`edge_leaf` materializes the ``repartition("src")``-ed
edges once, with the same static eager ``localCheckpoint`` every
superstep's state gets, and :func:`run_supersteps` does the same to the
initial state. A superstep's plan therefore reads ``Scan ExistingRDD``
leaves only, whatever lineage built the caller's edges: Spark analyses,
cache-matches and plans a few nodes per superstep instead of the whole
build (on the benchmark's corpus graph a PageRank superstep's analyzed
plan is 12 lines; planned over the edges' build lineage it is 160).
The driver

* truncates lineage after every superstep (iterative DataFrame plans
  otherwise grow without bound — the classic Spark trap),
* materializes the initial state and each in-memory superstep with a
  static (non-adaptive) plan. ``localCheckpoint`` under adaptive
  execution records ``UnknownPartitioning`` for the new state, so the
  next superstep's ``edges ⋈ state`` join re-shuffles all V state
  rows; planned statically, the state keeps the
  ``hashpartitioning(id, n)`` its final ``state ⋈ messages`` join (or
  the initial vertex ``distinct``) gives it, and with the edge leaf
  hash-partitioned on ``src`` to the same ``n`` that join needs no
  exchange. AQE has nothing to do in these plans anyway: every join
  has a checkpointed or co-partitioned side, so neither skew splitting
  nor partition coalescing can fire, while its per-stage re-planning
  is most of a small superstep's cost. The session's setting is
  restored as soon as the state is materialized; durable checkpoints
  stay adaptive, since a state re-read from parquet has no
  partitioning to keep,
* checkpoints vertex state to a partitioned parquet directory
  (Iceberg-style layout ``checkpoint_dir/superstep=K/``) together
  with per-superstep metrics + lineage JSON (``_metrics.json``:
  iteration number, rows, partitioning, wall seconds, custom
  convergence measures),
* resumes from the last *complete* superstep (one whose parquet
  committed its ``_SUCCESS`` marker and metrics file) after a crash —
  ``run()`` with the same ``checkpoint_dir`` just continues.

Fault model: the leaves and every in-memory superstep's state are
executor-cached blocks (``localCheckpoint``), so they are lost with an
executor. Only a ``checkpoint_dir`` run survives that: its resume
rebuilds the leaves from the caller's edges and continues from the last
complete parquet superstep.

At 100 TB the state table is large; checkpointing every K supersteps
(``checkpoint_every``) trades recompute for IO exactly like Spark's
own ``localCheckpoint`` policy, but survives driver loss because it
is real parquet, not executor-cached blocks.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

Superstep = Callable[[DataFrame, int], tuple[DataFrame, dict]]


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    metrics: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def _local_ckpt_jrdd(df: DataFrame):
    """JVM RDD backing a ``localCheckpoint``-ed DataFrame, or None.

    ``DataFrame.unpersist()`` only drops CacheManager entries; the
    blocks behind ``localCheckpoint`` belong to an RDD-level persist
    that the CacheManager never sees, so they linger until the JVM
    garbage-collects the RDD object and the ContextCleaner notices —
    with Spark's default periodic GC that is up to 30 MINUTES. On an
    iterative driver that leaks one V-sized block per superstep:
    measured on an 8M-file graph at local[8], superstep walls degraded
    23s -> 46s while the persisted-RDD count climbed monotonically,
    and snapped back the instant the cleaner ran. Freeing the previous
    superstep's block explicitly keeps walls flat.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:  # py4j surface moved — degrade to cleaner-based GC
        pass
    return None


def _static_local_checkpoint(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` planned with AQE off, so the
    checkpoint keeps ``df``'s hash partitioning (see module docstring)."""
    conf = spark.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)


def free_leaf(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed DataFrame now
    (``DataFrame.unpersist`` cannot reach them; see
    :func:`_local_ckpt_jrdd`)."""
    jrdd = _local_ckpt_jrdd(df)
    if jrdd is not None:
        jrdd.unpersist(False)


def edge_leaf(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The loop's edge input: ``(src, dst)`` hash-partitioned on
    ``src``, materialized as a static checkpoint so no superstep plan
    carries the caller's lineage; and the vertex set ``src ∪ dst`` as
    a plan over that leaf (hash-partitioned on ``id`` once executed).
    The caller frees the leaf with :func:`free_leaf`."""
    leaf = _static_local_checkpoint(
        edges.sparkSession, edges.select("src", "dst").repartition("src")
    )
    vertices = (
        leaf.select(F.col("src").alias("id"))
        .union(leaf.select(F.col("dst").alias("id")))
        .distinct()
    )
    return leaf, vertices


def _ckpt_path(checkpoint_dir: str, k: int) -> str:
    return os.path.join(checkpoint_dir, f"superstep={k}")


def _metrics_path(checkpoint_dir: str, k: int) -> str:
    return os.path.join(_ckpt_path(checkpoint_dir, k), "_metrics.json")


def _read_metrics(checkpoint_dir: str, k: int) -> dict | None:
    """Superstep K's ``_metrics.json``, or None when it is missing or
    does not parse (torn by a kill mid-write)."""
    try:
        with open(_metrics_path(checkpoint_dir, k)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def last_complete_superstep(checkpoint_dir: str) -> int | None:
    """Largest K with both a parquet _SUCCESS marker and metrics that
    parse."""
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return None
    written = [
        int(name.split("=", 1)[1])
        for name in os.listdir(checkpoint_dir)
        if name.startswith("superstep=")
    ]
    for k in sorted(written, reverse=True):
        committed = os.path.exists(os.path.join(_ckpt_path(checkpoint_dir, k), "_SUCCESS"))
        if committed and _read_metrics(checkpoint_dir, k) is not None:
            return k
    return None


def run_supersteps(
    spark: SparkSession,
    initial_state: DataFrame,
    step: Superstep,
    max_iterations: int,
    converged: Callable[[dict], bool] | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
) -> IterationResult:
    """Run ``step`` until convergence / max_iterations, checkpointing.

    ``converged(metrics)`` inspects the metrics dict the step returned
    (e.g. ``{"delta": 1e-7}``) — the driver-side convergence test the
    reference does with ``frontier.cardinality == 0``.

    The initial state (or the resumed parquet state) is materialized
    as a static checkpoint, one job, and freed once the first
    superstep's state is materialized; each in-memory superstep is then
    one job.
    """
    start_k = 0
    resumed_from = None
    state = initial_state
    metrics_log: list[dict] = []

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        last = last_complete_superstep(checkpoint_dir)
        if last is not None:
            state = spark.read.parquet(_ckpt_path(checkpoint_dir, last))
            metrics_log = _read_metrics(checkpoint_dir, last).get("history", [])
            start_k = last
            resumed_from = last
            if metrics_log and converged and converged(metrics_log[-1]):
                return IterationResult(state, last, metrics_log, resumed_from)

    state = _static_local_checkpoint(spark, state)

    # JVM handle of the CURRENT state's localCheckpoint blocks (None
    # when state is durable parquet); freed as soon as the next state
    # is materialized
    state_ckpt_jrdd = _local_ckpt_jrdd(state)
    k = start_k
    while k < max_iterations:
        t0 = time.time()
        new_state, m = step(state, k)
        k += 1

        durable = checkpoint_dir and (k % checkpoint_every == 0 or k == max_iterations)
        if durable:
            path = _ckpt_path(checkpoint_dir, k)
            new_state.write.mode("overwrite").parquet(path)  # the materializing action
            state.unpersist()
            if state_ckpt_jrdd is not None:
                state_ckpt_jrdd.unpersist(False)
            state_ckpt_jrdd = None
            # re-read: truncates lineage AND pins state to durable storage
            new_state = spark.read.parquet(path).persist()
            n_rows = new_state.count()
            # per-partition lineage: one manifest entry per state
            # partition file (name + bytes) so a resumed run — or an
            # auditor — can tie every partition of superstep K to the
            # exact files superstep K+1 read
            part_files = sorted(
                f for f in os.listdir(path)
                if f.startswith("part-") and not f.endswith(".crc")
            )
            partition_lineage = [
                {"file": f, "bytes": os.path.getsize(os.path.join(path, f))}
                for f in part_files
            ]
        else:
            # truncate lineage in-memory between durable checkpoints;
            # eager localCheckpoint is the single materializing action
            # (no extra count job — row count is a durable-ckpt metric)
            new_state = _static_local_checkpoint(spark, new_state)
            state.unpersist()
            # the new checkpoint is materialized, so the previous one's
            # RDD-level blocks (which DataFrame.unpersist cannot reach)
            # are dead weight — free them NOW instead of waiting for
            # the ContextCleaner (see _local_ckpt_jrdd)
            if state_ckpt_jrdd is not None:
                state_ckpt_jrdd.unpersist(False)
            state_ckpt_jrdd = _local_ckpt_jrdd(new_state)
            n_rows = None
            partition_lineage = None

        wall = time.time() - t0
        m = {
            key: val.get[key] if isinstance(val, Observation) else val
            for key, val in m.items()
        }
        m.update(
            {
                "superstep": k,
                "rows": n_rows,
                "wall_sec": round(wall, 4),
            }
        )
        if partition_lineage is not None:
            m["num_partitions"] = len(partition_lineage)
            m["partition_lineage"] = partition_lineage
        metrics_log.append(m)
        if durable:
            # write-then-rename: a kill mid-write leaves a temp file,
            # never a torn _metrics.json
            final = _metrics_path(checkpoint_dir, k)
            with open(final + ".tmp", "w") as fh:
                json.dump({"superstep": k, "history": metrics_log}, fh)
            os.replace(final + ".tmp", final)

        state = new_state
        if converged and converged(m):
            break

    return IterationResult(state, k, metrics_log, resumed_from)
