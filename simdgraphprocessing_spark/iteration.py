"""Superstep driver with checkpoint/resume — the distributed
generalization of the reference's frontier loop
(``apps/n_path.cpp:58-83``: per-thread buffers → tree merge → global
union → difference → convergence test). It is the package's one
iterative loop: BFS (that frontier loop itself), PageRank, connected
components and label propagation are steps run on it, and only this
module holds the handle on a checkpoint's blocks (other modules free a
leaf with :func:`free_leaf`).

Contract: a superstep is a pure function
``state_df -> (new_state_df, metrics_dict)``. A metric whose value is
a :class:`pyspark.sql.Observation` (observed on ``new_state_df`` under
the metric's own name) is read once the new state is materialized, so
convergence measures cost no action of their own.

Loop inputs are leaves. The reference builds its immutable CSR
(``src/SparseMatrix.hpp:12-68``) once and every query loop reads only
that; here :func:`edge_leaf` materializes the ``repartition(P, "src")``-ed
edges once, with the same static eager ``localCheckpoint`` every
superstep's state gets, and :func:`run_supersteps` does the same to the
initial state. A superstep's plan therefore reads ``Scan ExistingRDD``
leaves only, whatever lineage built the caller's edges: Spark analyses,
cache-matches and plans a few nodes per superstep instead of the whole
build (on the benchmark's corpus graph a PageRank superstep's analyzed
plan is 12 lines; planned over the edges' build lineage it is 160).
An edge table that already is such a leaf (``Graph.persist()``'s) is
read in place, not copied, and the loop does not free it.

Every leaf and every superstep of one loop run is co-partitioned to one
partition count ``P`` (:class:`Layout`), chosen once per graph the way
adaptive partition coalescing would size it at Spark's defaults::

    P = clamp(ceil(bytes / spark.sql.adaptive.coalescePartitions.minPartitionSize),
              1, spark.sql.shuffle.partitions)

``bytes`` is the edges' size as measured on a materialized cache of
them (:func:`freeze_edges`); Spark's estimate for an unmaterialized
plan is far too large (the cap for a 100-row table). An edge leaf
borrowed as it is keeps its own partition count.
Only this module reads ``spark.sql.shuffle.partitions``. On the
benchmark's 0.57 MB graph ``P = 1``: from superstep 2 on, a PageRank
superstep plans no exchange and runs one task; superstep 1, whose
initial state was hash-partitioned by its own plan, may keep two
1-partition exchanges.

The driver

* truncates lineage after every superstep (iterative DataFrame plans
  otherwise grow without bound — the classic Spark trap),
* materializes the initial state and each in-memory superstep with a
  static (non-adaptive) plan, ``spark.sql.shuffle.partitions`` pinned
  to ``P``. ``localCheckpoint`` under adaptive
  execution records ``UnknownPartitioning`` for the new state, so the
  next superstep's ``edges ⋈ state`` join re-shuffles all V state
  rows; planned statically, the state keeps the
  ``hashpartitioning(id, P)`` its final ``state ⋈ messages`` join (or
  the initial vertex ``distinct``) gives it, and with the edge leaf
  hash-partitioned on ``src`` to the same ``P`` that join needs no
  exchange. AQE has nothing to do in these plans anyway: every join
  has a checkpointed or co-partitioned side, so skew splitting cannot
  fire, and ``P`` is the coalescing, done once per graph; its
  per-stage re-planning is most of a small superstep's cost. The
  session's settings are restored as soon as the state is
  materialized. A durable superstep writes its parquet from that
  checkpoint, which stays the live state. Only a resume reads the
  parquet back; it has no partitioning to keep, so it is shuffled on
  ``id`` to ``P`` once (a ``dropDuplicates(["id"])``, which drops
  nothing), before its static checkpoint, and
  a resumed run plans every superstep as an uninterrupted one does,
* checkpoints vertex state to a partitioned parquet directory
  (Iceberg-style layout ``checkpoint_dir/superstep=K/``) together
  with per-superstep metrics + lineage JSON (``_metrics.json``:
  iteration number, rows, partitioning, wall seconds, custom
  convergence measures, and the run's :class:`Layout`),
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
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

Superstep = Callable[[DataFrame, int], tuple[DataFrame, dict]]


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
ADAPTIVE = "spark.sql.adaptive.enabled"


@dataclass(frozen=True)
class Layout:
    """One loop run's partition count ``partitions`` (``P``) and the
    inputs it was chosen from: the size statistic of the rows it was
    chosen for (``leaf_bytes``) and the two Spark settings of the rule
    (see module docstring). ``borrowed``: the edges were already a leaf
    partitioned on ``src`` and are read in place, so ``P`` is that
    leaf's partition count and the loop does not own (free) it."""

    partitions: int
    leaf_bytes: int
    min_partition_bytes: int
    shuffle_partitions: int
    borrowed: bool = False


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    metrics: list[dict] = field(default_factory=list)
    resumed_from: int | None = None
    layout: dict | None = None  # the run's Layout, as JSON


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


def _src_leaf_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` when it is a checkpoint leaf
    partitioned on ``src`` alone (hash, or one partition), else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    partitioning = plan.outputPartitioning()
    kind = partitioning.getClass().getSimpleName()
    if kind == "SinglePartition$":
        return 1
    if kind == "HashPartitioning":
        keys = partitioning.expressions()
        if keys.size() == 1 and keys.apply(0).name() == "src":
            return partitioning.numPartitions()
    return None


def partition_layout(df: DataFrame) -> Layout:
    """The :class:`Layout` of a loop over ``df``: a ``src``-partitioned
    checkpoint leaf is borrowed with its own partition count; any other
    ``df`` gets ``P`` from its size statistic by the module's rule. The
    statistic is read from a fresh plan of ``df``, so a cache made (and
    materialized) since ``df`` was planned is matched and measured."""
    spark = df.sparkSession
    conf = spark.conf
    cap = int(conf.get(SHUFFLE_PARTITIONS))
    min_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get(MIN_PARTITION_SIZE)
    )
    size = int(df.select("*")._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    held = _src_leaf_partitions(df)
    if held is not None:
        return Layout(held, size, min_bytes, cap, borrowed=True)
    return Layout(max(1, min(cap, -(-size // min_bytes))), size, min_bytes, cap)


@contextmanager
def _static_plans(spark: SparkSession, partitions: int | None = None) -> Iterator[None]:
    """Plan with AQE off inside, and every exchange a plan inserts sized
    to ``partitions`` when it is given; the session's settings are
    restored on exit."""
    conf = spark.conf
    pinned = {ADAPTIVE: "false"}
    if partitions is not None:
        pinned[SHUFFLE_PARTITIONS] = str(partitions)
    saved = {key: conf.get(key) for key in pinned}
    for key, value in pinned.items():
        conf.set(key, value)
    try:
        yield
    finally:
        for key, value in saved.items():
            conf.set(key, value)


def _static_local_checkpoint(spark: SparkSession, df: DataFrame, partitions: int) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` planned with AQE off and
    every exchange it inserts sized to ``partitions``, so the
    checkpoint keeps ``df``'s hash partitioning, co-partitioned with the
    run's other leaves (see module docstring)."""
    with _static_plans(spark, partitions):
        return df.localCheckpoint(eager=True)


def free_leaf(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed DataFrame now
    (``DataFrame.unpersist`` cannot reach them; see
    :func:`_local_ckpt_jrdd`)."""
    jrdd = _local_ckpt_jrdd(df)
    if jrdd is not None:
        jrdd.unpersist(False)


def freeze_edges(edges: DataFrame) -> tuple[DataFrame, Layout]:
    """``edges`` frozen into a leaf: a static checkpoint of
    ``repartition(P, "src")``, and the :class:`Layout` that chose ``P``.

    The checkpoint reads ``edges`` through a cache, planned statically
    and materialized first by one ``count()`` job, so its statistics are
    measured: ``P`` comes from them, and the leaf keeps them, so joins
    over it broadcast where a cached table's would. The bare build reports an estimate instead
    (2.89E+52 B for the benchmark's corpus graph, 18446744073709551614 B
    for a 100-row ``createDataFrame``), which gives ``P`` the cap and
    plans every join over it as a sort-merge. ``edges`` the caller
    cached are read as they are and stay cached; a cache made here is
    freed once the checkpoint exists."""
    spark = edges.sparkSession
    owned = edges.storageLevel == StorageLevel.NONE
    try:
        # planned statically, the cache is built by the count's own job;
        # adaptive, the cache and the count's shuffle are jobs of their own
        with _static_plans(spark):
            if owned:
                edges.persist()
            edges.count()
        layout = partition_layout(edges)
        leaf = _static_local_checkpoint(
            spark, edges.repartition(layout.partitions, "src"), layout.partitions
        )
    finally:
        if owned:
            edges.unpersist()
    return leaf, layout


def edge_leaf(edges: DataFrame) -> tuple[DataFrame, DataFrame, Layout]:
    """The loop's edge input: ``(src, dst)`` partitioned on ``src`` to
    the run's ``P``, as a checkpoint leaf so no superstep plan carries
    the caller's lineage; the vertex set ``src ∪ dst`` as a plan over
    that leaf (hash-partitioned on ``id`` once executed); and the run's
    :class:`Layout`. ``edges`` that already are such a leaf with exactly
    these columns are read in place (``Layout.borrowed``); otherwise the
    leaf is :func:`freeze_edges`'s, which the caller owns and frees with
    :func:`free_leaf`."""
    pairs = edges if edges.columns == ["src", "dst"] else edges.select("src", "dst")
    if _src_leaf_partitions(pairs) is None:
        leaf, layout = freeze_edges(pairs)
    else:
        leaf, layout = pairs, partition_layout(pairs)
    vertices = (
        leaf.select(F.col("src").alias("id"))
        .union(leaf.select(F.col("dst").alias("id")))
        .distinct()
    )
    return leaf, vertices, layout


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
    layout: Layout | None = None,
) -> IterationResult:
    """Run ``step`` until convergence / max_iterations, checkpointing.

    ``converged(metrics)`` inspects the metrics dict the step returned
    (e.g. ``{"delta": 1e-7}``) — the driver-side convergence test the
    reference does with ``frontier.cardinality == 0``.

    ``layout``: the run's :class:`Layout`, as :func:`edge_leaf` chose it
    for the edges the step reads; None chooses it from the initial
    state's size. Every static plan of the run is sized to its ``P``,
    and its record is attached to the result and to every
    ``_metrics.json``.

    The initial state (or the resumed parquet state, keyed on ``id``)
    is materialized as a static checkpoint, one job, and freed once the
    first superstep's state is materialized; each in-memory superstep is
    then one job.
    """
    if layout is None:
        layout = partition_layout(initial_state)
    partitions = layout.partitions
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
                return IterationResult(state, last, metrics_log, resumed_from, asdict(layout))
            # parquet keeps no partitioning: shuffle the state on id to
            # the run's P once, so the first resumed superstep reads it
            # in place, as an uninterrupted run reads its checkpoint. Ids
            # are unique, so the dedup drops no row; it is planned as a
            # hashpartitioning(id, P) exchange at every P, where
            # repartition(1, "id") is SinglePartition, which no join
            # co-partitions with (both of its sides get shuffled)
            state = state.dropDuplicates(["id"])

    state = _static_local_checkpoint(spark, state, partitions)
    k = start_k
    while k < max_iterations:
        t0 = time.time()
        new_state, m = step(state, k)
        k += 1

        durable = checkpoint_dir and (k % checkpoint_every == 0 or k == max_iterations)
        if durable:
            # row count is a durable-checkpoint metric, observed by the
            # checkpoint's own job
            rows = Observation()
            new_state = new_state.observe(rows, F.count("*").alias("rows"))
        # truncate lineage; the eager localCheckpoint is the single
        # materializing action
        new_state = _static_local_checkpoint(spark, new_state, partitions)
        # the new checkpoint is materialized, so the previous one's
        # blocks are dead weight — free them NOW instead of waiting for
        # the ContextCleaner (see _local_ckpt_jrdd)
        free_leaf(state)
        n_rows = partition_lineage = None
        if durable:
            # written from the checkpoint, which stays the live state: a
            # run reads its parquet back only to resume
            path = _ckpt_path(checkpoint_dir, k)
            new_state.write.mode("overwrite").parquet(path)
            n_rows = rows.get["rows"]
            # per-partition lineage: one manifest entry per state
            # partition file (name + bytes) so a resumed run — or an
            # auditor — can tie every partition of superstep K to the
            # exact files a resume from K reads
            part_files = sorted(
                f for f in os.listdir(path)
                if f.startswith("part-") and not f.endswith(".crc")
            )
            partition_lineage = [
                {"file": f, "bytes": os.path.getsize(os.path.join(path, f))}
                for f in part_files
            ]

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
                json.dump({"superstep": k, "history": metrics_log, "layout": asdict(layout)}, fh)
            os.replace(final + ".tmp", final)

        state = new_state
        if converged and converged(m):
            break

    return IterationResult(state, k, metrics_log, resumed_from, asdict(layout))
