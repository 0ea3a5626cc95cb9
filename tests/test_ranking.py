"""Two-pass scalable global ranking vs the single-window oracle."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from simdgraphprocessing_spark.functions.ranking import global_row_number


def test_global_row_number_matches_window(spark):
    # keys with heavy ties to force cross-partition tie-breaking
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    got = global_row_number(
        df, [F.col("k").desc(), F.col("id").asc()], out_col="rk"
    )
    want = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("k").desc(), F.col("id").asc())) - 1
    )
    assert got.join(want, ["id", "k", "rk"]).count() == 10_000


def test_global_row_number_start_offset(spark):
    df = spark.range(100)
    got = global_row_number(df, [F.col("id").asc()], out_col="r", start=1)
    rows = {r["id"]: r["r"] for r in got.collect()}
    assert rows[0] == 1 and rows[99] == 100


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_eager_mode_leaks_no_session_caches(spark):
    """ADVICE r2: the range-partitioned input must not stay pinned in
    executor storage call over call."""
    import gc

    gc.collect()
    # RELATIVE bound: the session is shared with other tests that may
    # legitimately hold persisted RDDs — measure only what THIS loop adds
    base = _n_persistent(spark)
    df = spark.range(5_000).select(F.col("id"), (F.col("id") % 5).alias("k"))
    counts = []
    for _ in range(4):
        out = global_row_number(df, [F.col("k").asc(), F.col("id").asc()])
        out.count()
        del out
        gc.collect()
        counts.append(_n_persistent(spark))
    # Deterministic bound: each call may leave AT MOST its one
    # localCheckpoint RDD (caller-owned result data, reclaimed by the
    # async ContextCleaner after JVM GC — not awaitable reliably in a
    # test). The regression this guards (ADVICE r2): the range-
    # partitioned INPUT persists being pinned too, which would show as
    # TWO blocks per call.
    assert _n_persistent(spark) - base <= len(counts), (base, counts)


def _assert_matches_window(df, order, start=0):
    """``global_row_number`` equals the single-window oracle
    ``row_number().over(Window.orderBy(order)) - 1 + start``."""
    got = global_row_number(df, order, out_col="rk", start=start)
    want = df.withColumn("rk", F.row_number().over(Window.orderBy(*order)) - 1 + start)
    assert sorted(got.collect()) == sorted(want.collect())
    return got


def test_global_row_number_empty_input(spark):
    got = _assert_matches_window(spark.range(0), [F.col("id").asc()])
    assert got.columns == ["id", "rk"] and got.count() == 0


def test_global_row_number_more_partitions_than_rows(spark):
    """Three rows over ``defaultParallelism`` range partitions: most
    partitions are empty, and the offsets skip them."""
    assert spark.sparkContext.defaultParallelism > 3
    df = spark.range(3).select(F.col("id"), (F.col("id") * 7919 % 5).alias("k"))
    _assert_matches_window(df, [F.col("k").desc(), F.col("id").asc()])


def test_global_row_number_start_with_ties(spark):
    df = spark.range(500).select(F.col("id"), (F.col("id") % 4).alias("k"))
    got = _assert_matches_window(df, [F.col("k").asc(), F.col("id").desc()], start=5)
    ranks = sorted(r["rk"] for r in got.collect())
    assert ranks == list(range(5, 505))


def _checkpointed_plan(monkeypatch, df, order):
    """Run ``global_row_number(df, order)`` and return the executed plan
    of the one table it local-checkpoints: the plan that actually runs,
    not the bare scan of the checkpoint's result."""
    checkpointed = []
    real = type(df).localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", recording)
    global_row_number(df, order)
    assert len(checkpointed) == 1
    return checkpointed[0]._jdf.queryExecution().executedPlan().toString()


def test_global_row_number_no_single_partition_exchange(spark, monkeypatch):
    """No step of the numbering gathers the rows into one partition."""
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 3).alias("k"))
    plan = _checkpointed_plan(monkeypatch, df, [F.col("k").asc(), F.col("id").asc()])
    assert "SinglePartition" not in plan, plan


def test_global_row_number_plans_no_window_and_no_pid_exchange(spark, monkeypatch):
    """The ranked rows are numbered inside their range partitions: the
    plan the checkpoint materializes has no ``Window``, and its only
    exchange is the range shuffle into the persisted input (none on the
    partition id)."""
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 3).alias("k"))
    plan = _checkpointed_plan(monkeypatch, df, [F.col("k").asc(), F.col("id").asc()])
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert "Window" not in plan and "_pid" not in "".join(exchanges), plan
    assert exchanges and all("rangepartitioning" in line for line in exchanges), plan


def test_degree_rank_ids_job_count(spark):
    """``degree_rank_ids`` runs 7 jobs, counted by job group. The
    offsets are a literal and the rows are numbered without a shuffle,
    so no job builds an offsets table and none runs a window's
    exchange (9 jobs with both)."""
    from simdgraphprocessing_spark.graph import degree_rank_ids
    from tests.conftest import edge_df, zipf_random_pairs

    e = edge_df(spark, zipf_random_pairs(n=300)).persist()
    e.count()
    sc = spark.sparkContext
    sc.setJobGroup("degree-rank-ids-jobs", "degree_rank_ids")
    try:
        ranked = degree_rank_ids(e)
    finally:
        sc._jsc.clearJobGroup()
        e.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("degree-rank-ids-jobs"))
    assert ranked.count() == 300
    assert jobs == 7, jobs
