"""Scalable total-order ranking without a single-partition window.

``Window.orderBy(...)`` with no partition key moves EVERY row to one
task — fine at 10^5 vertices, fatal at 10^10. This module assigns
global ``row_number``-equivalent ranks with bounded per-task work:

1. ``repartitionByRange`` on the full ordering key (RangePartitioner
   samples boundaries; partition p holds a contiguous key range, and
   partition ids are ordered with the ranges);
2. rank *within* each partition (parallel window, keyed by the range
   partition id);
3. offset each partition's ranks by the cumulative row count of the
   partitions before it (one tiny driver-side cumsum over ≤P counts,
   broadcast-joined back).

The output is deterministic for any total ordering (include a
tie-break key such as the id) even though the sampled range boundaries
are not — boundary placement only changes which task computes a rank,
never the rank itself.

This is the distributed analog of the reference's single-node
``reorder_by_degree`` sort (``MutableGraph.hpp:268-272``): same total
order, expressed as a range shuffle + per-partition sort that a
1000-executor cluster executes with no all-to-one step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order: list[Column],
    out_col: str = "rank",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = 0-based (or ``start``-based) global rank of
    each row under ``order`` (which MUST be a total order — add a
    unique tie-break column). Equivalent to
    ``row_number().over(Window.orderBy(*order)) - 1 + start`` but
    scalable: no single-partition exchange.

    The ranked result is materialized with ``localCheckpoint`` (cutting
    its lineage) and the range-partitioned input is unpersisted
    IMMEDIATELY — nothing accumulates in executor storage across calls,
    so library callers (reorder_bfs in a loop, long sessions) stay
    leak-free with no cleanup call. Rankings are V-sized, so the
    checkpoint cost is one extra V write.
    """
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    # persisted: the counts job and the checkpoint job below both read
    # it, and must see the same sampled range boundaries; without the
    # persist the range shuffle (and its upstream, typically a degree
    # aggregation) would run twice
    parted = (
        df.repartitionByRange(p, *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # one light job over the (already small relative to E) input to
    # learn per-range-partition counts; cumsum on the driver is over
    # at most `p` rows
    counts = {r["_pid"]: r["cnt"] for r in
              parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], start
    for pid in range(p):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order)
    ranked = (
        parted.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.row_number().over(w) - 1 + F.col("_off"))
        .drop("_pid", "_off")
    )
    # materialize + cut lineage, then free the cache right away
    ranked = ranked.localCheckpoint(eager=True)
    parted.unpersist()
    return ranked
