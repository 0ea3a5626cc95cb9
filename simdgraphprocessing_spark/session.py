"""SparkSession construction with scale-appropriate defaults.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs
(AQE, Arrow, shuffle-partition sizing) are what we would submit via
``spark-submit --py-files`` on a multi-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "simdgraphprocessing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    AQE is on (runtime skew-join splitting + partition coalescing —
    the Spark analog of the reference's dynamic work-stealing queue,
    ``src/common.hpp:214-276``) everywhere except superstep
    materialization, which ``iteration.run_supersteps`` plans
    statically so the state keeps its hash partitioning across the
    checkpoint; Arrow is on (all kernels are pandas/Arrow vectorized,
    never per-row Python).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # 12g, NOT the whole box: G1 on an oversized heap accumulates
        # garbage into multi-second full collections — measured on the
        # 38M-edge PageRank bench, 48g gave 2–27s superstep walls vs
        # 2.4–5s at 12g. Override with SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # the shared-CSR triangle path Arrow-collects up to
        # CSR_BROADCAST_VALUES oriented edges (~800 MB at the cap);
        # the 1g default would kill that collect well under the cap
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
