"""Degree statistics and arg-max vertex — the reference's dataset
stats tool (``tools/print_dataset_stats.cpp:32-120``) and
``get_max_row_id`` (``SparseMatrix.hpp:134-145``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_table(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))


def max_degree_vertex(edges: DataFrame) -> DataFrame:
    """1-row (id, degree): highest degree, ties broken by smallest id
    (the reference's linear scan keeps the first maximum)."""
    return (
        degree_table(edges)
        .orderBy(F.col("degree").desc(), F.col("id").asc())
        .limit(1)
    )


def degree_stats_full(edges: DataFrame) -> DataFrame:
    """Full parity with ``tools/print_dataset_stats.cpp:32-120``:
    range / cardinality / density statistics over the adjacency rows,
    plus mode, variance, and Pearson skewness of the degree
    distribution.

    All hash-portable columns are integers (micros via ``DIV`` —
    floor-division integer math evaluates identically on every
    engine); the two Pearson skewness columns are doubles computed
    FROM those integers (3·(avg−mode)/√var, ``:108-111``) and are for
    human consumption, not cross-engine hashing.

    Scale notes: the per-vertex pass is one groupBy(src) over E with
    map-side combine. Mode/median run on the degree *histogram*
    (distinct degree values — bounded by max degree, ~10⁵ rows even at
    power-law 10¹¹-edge scale), so the single-partition window there
    is over a tiny table, never over V.
    """
    from pyspark.sql import Window

    M = 1_000_000
    per_v = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("card"),
        (F.max("dst") - F.min("dst")).alias("rng"),
    )
    per_v = per_v.withColumn(
        "density_micros",
        F.when(
            F.col("card") > 1,
            F.least(
                F.lit(M).cast("long"),
                F.expr(f"(card * {M}) DIV (rng + 1)"),
            ),
        ),
    ).persist()  # scalar aggs + two histograms read it

    totals = per_v.agg(
        F.count("*").alias("n"),
        F.sum("card").alias("m"),
        F.sum(F.col("card") * F.col("card")).alias("c2"),
        F.max("card").alias("max_card"),
        F.min("card").alias("min_card"),
        F.sum("rng").alias("sum_rng"),
        F.max("rng").alias("max_range"),
        F.sum("density_micros").alias("sum_dm"),
        F.count("density_micros").alias("n_dense"),
    )

    # histogram-side mode/median (tiny: one row per distinct degree)
    hist = per_v.groupBy("card").agg(F.count("*").alias("cnt"))
    mode = hist.orderBy(F.col("cnt").desc(), F.col("card").asc()).limit(1).select(
        F.col("card").alias("mode_degree")
    )
    wc = Window.orderBy("card").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(wc))

    dhist = (
        per_v.filter(F.col("density_micros").isNotNull())
        .groupBy("density_micros")
        .agg(F.count("*").alias("cnt"))
    )
    wd = Window.orderBy("density_micros").rowsBetween(Window.unboundedPreceding, 0)
    dcum = dhist.withColumn("cum", F.sum("cnt").over(wd))

    t = totals.collect()[0]
    n, m, c2 = t["n"], t["m"], t["c2"]
    med_idx = n // 2 + 1  # 0-based sorted index n//2 → cum ≥ idx+1
    median = (
        cum.filter(F.col("cum") >= med_idx).orderBy("card").limit(1).collect()[0]["card"]
    )
    dmed_idx = t["n_dense"] // 2 + 1
    drow = dcum.filter(F.col("cum") >= dmed_idx).orderBy("density_micros").limit(1).collect()
    dmedian = drow[0]["density_micros"] if drow else 0
    mode_v = mode.collect()[0]["mode_degree"]
    per_v.unpersist()

    avg_micros = (m * M) // n
    avg_milli = (m * 1000) // n
    var_micros = (c2 * M) // n - avg_milli * avg_milli
    avg_d = avg_micros / M
    sd = (var_micros / M) ** 0.5 if var_micros > 0 else float("nan")
    spark = edges.sparkSession
    row = {
        "num_vertices": n,
        "num_directed_edges": m,
        "avg_degree_micros": avg_micros,
        "max_degree": t["max_card"],
        "min_degree": t["min_card"],
        "median_degree": median,
        "mode_degree": mode_v,
        "var_degree_micros": var_micros,
        "avg_range_micros": (t["sum_rng"] * M) // n,
        "max_range": t["max_range"],
        "avg_density_micros": (t["sum_dm"] or 0) // n,
        "median_density_micros": dmedian,
        "skew1_pearson": 3.0 * (avg_d - mode_v) / sd,
        "skew2_pearson": 3.0 * (avg_d - median) / sd,
    }
    return spark.range(1).select(
        *[
            F.lit(value).cast("double" if name.startswith("skew") else "long").alias(name)
            for name, value in row.items()
        ]
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Single-row summary: vertex count, edge count, avg/max/min degree
    and approximate median (percentile_approx, exact at test scale)."""
    deg = degree_table(edges)
    return deg.agg(
        F.count("*").alias("num_vertices"),
        F.sum("degree").alias("num_directed_edges"),
        F.avg("degree").alias("avg_degree"),
        F.max("degree").alias("max_degree"),
        F.min("degree").alias("min_degree"),
        F.expr("percentile_approx(degree, 0.5)").alias("median_degree"),
    )
