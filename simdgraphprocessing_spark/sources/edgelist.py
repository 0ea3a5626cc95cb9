"""Edge-list sources/sinks — the reference's loaders re-expressed
(``MutableGraph.hpp:517-599`` text, ``:316-360`` binary;
``writeUndirectedToBinary`` ``:298-314``).

Text format: whitespace-separated ``src dst`` (optionally
``src dst attr``) per line, comments ignored — parsed with a schema'd
CSV read so the scan is vectorized and prunable. The binary
checkpoint format becomes parquet (columnar, predicate-pushdown-able,
splittable — strictly better than the reference's length-prefixed
rows at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_edge_list_text(spark: SparkSession, path: str, attr: bool = False) -> DataFrame:
    """Whitespace ``src dst [attr]`` text → DataFrame(src, dst[, attr])."""
    schema = "src LONG, dst LONG" + (", attr INT" if attr else "")
    df = (
        spark.read.option("delimiter", " ")
        .option("comment", "#")
        .option("mode", "DROPMALFORMED")
        .schema(schema)
        .csv(path)
    )
    return df.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())


def read_edge_list_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).select("src", "dst")


def write_adjacency_parquet(edges: DataFrame, path: str, buckets: int | None = None) -> None:
    """Persist the canonical edge table, clustered by src (adjacency-
    clustered like the reference's CSR file: one vertex's neighbors
    are contiguous). ``repartition(src) + sortWithinPartitions`` gives
    run-length-friendly parquet and lets later scans prune on src."""
    out = edges.repartition(*( [buckets] if buckets else [] ), "src").sortWithinPartitions("src", "dst")
    out.write.mode("overwrite").parquet(path)


def write_ligra_text(edges: DataFrame, path: str) -> None:
    """Export to Ligra's AdjacencyGraph text format — the reference's
    ``writeDirectedToLigra`` (``MutableGraph.hpp:601-634``): header
    ``AdjacencyGraph\\n n\\n m``, then n exclusive-prefix-sum offsets
    (one per vertex, degree-0 vertices included), then m neighbor ids
    in (vertex, neighbor) sort order.

    Distributed plan: degrees for the dense id range [0, n) → the
    two-pass range-partition prefix sum (each partition's offset from
    ``functions.ranking.partition_offsets`` — no single-partition
    window) → offsets and
    the sorted edge stream are written as ordered text part-files; the
    driver only concatenates files (IO, not compute).
    """
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from simdgraphprocessing_spark.functions.ranking import partition_offsets

    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    # empty table → max is NULL; coalesce to -1 so n=0 falls out and we
    # still emit a valid "AdjacencyGraph\n0\n0\n" header
    n = int(
        e.agg(
            F.coalesce(F.greatest(F.max("src"), F.max("dst")), F.lit(-1)).alias("m")
        ).collect()[0]["m"]
    ) + 1
    m = e.count()

    p = spark.sparkContext.defaultParallelism
    deg = (
        spark.range(n).withColumnRenamed("id", "src")
        .join(e.groupBy("src").agg(F.count("*").alias("d")), "src", "left")
        .select("src", F.coalesce(F.col("d"), F.lit(0)).alias("d"))
    )
    parted = (
        deg.repartitionByRange(p, F.col("src").asc())
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    part_offset = partition_offsets(parted, p, F.sum("d"))
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("src").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parted.withColumn(
            "offset", F.coalesce(F.sum("d").over(w), F.lit(0)) + part_offset
        )
        .orderBy("src")
        .select(F.col("offset").cast("string").alias("value"))
    )

    tmp = path + "._tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    offsets.write.mode("overwrite").text(os.path.join(tmp, "offsets"))
    (
        e.orderBy("src", "dst")
        .select(F.col("dst").cast("string").alias("value"))
        .write.mode("overwrite")
        .text(os.path.join(tmp, "edges"))
    )
    parted.unpersist()

    # ordered global concat: sorted-write part files are ordered by name
    with open(path, "w") as out:
        out.write(f"AdjacencyGraph\n{n}\n{m}\n")
        for section in ("offsets", "edges"):
            for part in sorted(glob.glob(os.path.join(tmp, section, "part-*"))):
                with open(part) as fh:
                    shutil.copyfileobj(fh, out)
    shutil.rmtree(tmp, ignore_errors=True)
