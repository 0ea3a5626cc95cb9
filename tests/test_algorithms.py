"""Iterative algorithms vs numpy oracles (FIXTURES.md §F3):
PageRank allclose(1e-6), CC exact, label propagation exact."""

from __future__ import annotations

import functools
import os

import numpy as np
import pytest

from simdgraphprocessing_spark.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
)
from tests.conftest import edge_df, numpy_graph, zipf_random_pairs


def pagerank_oracle(A: np.ndarray, d=0.85, iters=20, tol=1e-10):
    n = A.shape[0]
    outdeg = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[outdeg == 0].sum()
        contrib = np.zeros(n)
        nz = outdeg > 0
        contrib = (A[nz].T * (r[nz] / outdeg[nz])).sum(axis=1)
        new = (1 - d) / n + d * (contrib + 0 * dangling) + d * dangling / n
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return r


def cc_oracle(pairs, n):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min vertex id per component
    return {v: find(v) for v in range(n)}


def lpa_oracle(A: np.ndarray, iters: int):
    """Synchronous LPA, most-frequent neighbor label, min tie-break."""
    n = A.shape[0]
    labels = np.arange(n)
    for _ in range(iters):
        new = labels.copy()
        for v in range(n):
            nbrs = np.nonzero(A[v])[0]
            if nbrs.size == 0:
                continue
            vals, counts = np.unique(labels[nbrs], return_counts=True)
            new[v] = vals[counts == counts.max()].min()
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def test_pagerank_ring(spark):
    # ring: every vertex rank = 1/N exactly
    n = 12
    pairs = [(i, (i + 1) % n) for i in range(n)]
    e = edge_df(spark, pairs)
    res = pagerank(e, max_iterations=10)
    ranks = {r["id"]: r["rank"] for r in res.state.collect()}
    assert all(abs(v - 1.0 / n) < 1e-9 for v in ranks.values())


def test_pagerank_star_and_zipf_vs_oracle(spark):
    pairs = zipf_random_pairs(n=150)
    n = max(max(p) for p in pairs) + 1
    # directed version: low → high only (creates dangling vertices)
    from pyspark.sql import functions as F

    e = spark.createDataFrame(pairs, "src long, dst long")
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in pairs:
        A[a, b] = 1
    res = pagerank(e, max_iterations=25, tol=1e-12)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    expect = pagerank_oracle(A, iters=25, tol=1e-12)
    ids = sorted(got)
    got_v = np.array([got[i] for i in ids])
    exp_v = np.array([expect[i] for i in ids])
    assert np.allclose(got_v, exp_v, atol=1e-6)
    assert res.metrics, "metrics recorded per superstep"
    assert abs(got_v.sum() - 1.0) < 1e-6  # mass conserved


def test_connected_components_multi(spark):
    pairs = [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (8, 8)]
    e = edge_df(spark, [(a, b) for a, b in pairs if a != b])
    res = connected_components(e)
    comp = {r["id"]: r["component"] for r in res.state.collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 5, 7: 5}


def test_connected_components_zipf_vs_unionfind(spark):
    pairs = zipf_random_pairs(n=250)
    n = max(max(p) for p in pairs) + 1
    e = edge_df(spark, pairs)
    res = connected_components(e, max_iterations=60)
    comp = {r["id"]: r["component"] for r in res.state.collect()}
    oracle = cc_oracle(pairs, n)
    present = set(comp)
    for v in present:
        assert comp[v] == oracle[v]


def test_label_propagation_exact_vs_oracle(spark):
    pairs = zipf_random_pairs(n=80)
    A = numpy_graph(pairs)
    iters = 4
    e = edge_df(spark, pairs)
    res = label_propagation(e, max_iterations=iters)
    got = {r["id"]: r["label"] for r in res.state.collect()}
    expect = lpa_oracle(A, iters)
    for v, lbl in got.items():
        assert lbl == expect[v], f"vertex {v}"


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: run 3 supersteps, then re-run with same dir —
    must resume from superstep 3, not restart."""
    pairs = zipf_random_pairs(n=100)
    e = edge_df(spark, pairs)
    ck = str(tmp_path / "pr_ck")
    res1 = pagerank(e, max_iterations=3, tol=0, checkpoint_dir=ck)
    assert res1.iterations == 3 and res1.resumed_from is None
    res2 = pagerank(e, max_iterations=6, tol=0, checkpoint_dir=ck)
    assert res2.resumed_from == 3
    assert res2.iterations == 6
    # resumed result equals a clean 6-iteration run
    clean = pagerank(e, max_iterations=6, tol=0)
    a = {r["id"]: r["rank"] for r in res2.state.collect()}
    b = {r["id"]: r["rank"] for r in clean.state.collect()}
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)
    # per-superstep metrics survive the resume
    assert [m["superstep"] for m in res2.metrics] == [1, 2, 3, 4, 5, 6]


@pytest.mark.parametrize(
    "algorithm",
    [
        pytest.param(functools.partial(pagerank, tol=0.0), id="pagerank"),
        connected_components,
        label_propagation,
    ],
)
def test_resume_from_torn_checkpoint(spark, tmp_path, algorithm):
    """A superstep whose parquet never committed ``_SUCCESS`` is not
    resumed from: the run restarts after the last complete superstep
    and ends where an uninterrupted run ends."""
    # a 12-vertex path: min labels need 11 hops, so neither CC nor LPA
    # settles within the 3 checkpointed supersteps
    e = edge_df(spark, [(i, i + 1) for i in range(11)])
    ck = tmp_path / "ck"
    algorithm(e, max_iterations=3, checkpoint_dir=str(ck), checkpoint_every=1)
    os.remove(ck / "superstep=3" / "_SUCCESS")
    res = algorithm(e, max_iterations=6, checkpoint_dir=str(ck), checkpoint_every=1)
    clean = algorithm(e, max_iterations=6)
    assert clean.iterations >= 4
    assert res.resumed_from == 2 and res.iterations == clean.iterations
    assert [m["superstep"] for m in res.metrics] == list(range(1, res.iterations + 1))
    got, want = dict(res.state.collect()), dict(clean.state.collect())
    # ranks within 1e-12; integer labels, exactly
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)


@pytest.mark.parametrize("algorithm", [pagerank, connected_components, label_propagation])
@pytest.mark.parametrize("pairs", [[], [(0, 0), (1, 1)]], ids=["empty", "self_loops_only"])
def test_degenerate_inputs(spark, algorithm, pairs):
    """An empty edge table gives an empty state; a graph of self-loops
    only keeps every vertex to itself: identity labels, and an even
    split of the rank (each vertex links only to itself)."""
    res = algorithm(spark.createDataFrame(pairs, "src long, dst long"))
    got = dict(res.state.collect())
    if not pairs:
        assert got == {}
    elif algorithm is pagerank:
        assert got.keys() == {0, 1} and all(abs(r - 0.5) < 1e-12 for r in got.values())
    else:
        assert got == {0: 0, 1: 1}
    if algorithm is pagerank and not pairs:
        assert res.iterations == 0 and res.metrics == []
        assert res.state.schema.simpleString() == "struct<id:bigint,rank:double>"


def test_supersteps_free_localcheckpoint_blocks(spark):
    """Each superstep's localCheckpoint must free the previous one's
    RDD-level blocks immediately — DataFrame.unpersist cannot reach
    them, and waiting for the ContextCleaner leaks one V-sized block
    per superstep (measured: superstep walls degrading 23s -> 46s on
    an 8M-file graph until the periodic GC fired)."""
    sc = spark.sparkContext

    def n_persistent() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    pairs = zipf_random_pairs(n=400, seed=11)
    edges = edge_df(spark, pairs)
    base = n_persistent()
    res = pagerank(edges, max_iterations=8, tol=0.0)
    # live set after the run: the final state's checkpoint block plus
    # at most the persisted vertex/vtab helpers — NOT 8 state blocks
    assert n_persistent() - base <= 4, (base, n_persistent())
    assert res.iterations == 8
    res.state.unpersist()


# ---- superstep plan shape: static, co-partitioned materialization ----


def _record_local_checkpoints(monkeypatch) -> list:
    """Record every DataFrame handed to ``localCheckpoint``; after the
    call its query execution holds the physical plan that ran."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return seen


def _exchanges(df) -> tuple[list[str], int, int]:
    """Walk the plan that materialized ``df``. Returns every exchange
    node (as its one-line description), the number of scans of a
    checkpointed state (``Scan ExistingRDD``), and how many exchanges
    shuffle such a scan (reach it through single-child nodes only).
    Adaptive plans are walked through their final plan and stages."""
    exchanges: list[str] = []
    scans = shuffled = 0

    def children(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if cls.endswith("QueryStageExec"):
            return [node.plan()]
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def shuffles_state(node) -> bool:
        while len(kids := children(node)) == 1:
            node = kids[0]
        return node.nodeName() == "Scan ExistingRDD"

    def walk(node):
        nonlocal scans, shuffled
        name = node.nodeName()
        if "Exchange" in name:
            exchanges.append(node.simpleString(200))
            shuffled += shuffles_state(node)
        scans += name == "Scan ExistingRDD"
        for child in children(node):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return exchanges, scans, shuffled


def test_pagerank_superstep_plan_has_one_exchange(spark, monkeypatch):
    """Superstep 2 reads the superstep-1 checkpoint. Materialized by a
    static plan, that state stays hash-partitioned by id, so the
    superstep's only exchange is the contribs groupBy on dst: the
    state side of both joins is read in place."""
    seen = _record_local_checkpoints(monkeypatch)
    e = edge_df(spark, zipf_random_pairs(n=60))
    pagerank(e, max_iterations=2, tol=1e-12)
    assert len(seen) == 2
    exchanges, scans, shuffled = _exchanges(seen[1])
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(dst" in exchanges[0], exchanges
    assert scans == 2 and shuffled == 0, (scans, shuffled)


@pytest.mark.parametrize("algorithm", [connected_components, label_propagation])
def test_cc_lpa_read_state_without_exchange(spark, monkeypatch, algorithm):
    seen = _record_local_checkpoints(monkeypatch)
    e = edge_df(spark, zipf_random_pairs(n=60))
    res = algorithm(e, max_iterations=3)
    assert res.iterations >= 2 and len(seen) >= 2
    exchanges, scans, shuffled = _exchanges(seen[1])
    assert scans == 2 and shuffled == 0, (scans, shuffled, exchanges)


def test_pagerank_superstep_runs_one_job(spark, monkeypatch):
    """Each in-memory superstep's jobs, counted by job group from the
    status store: the static materialization is the only one (no
    adaptive stage jobs, no separate convergence action)."""
    import importlib

    pr = importlib.import_module("simdgraphprocessing_spark.algorithms.pagerank")
    sc = spark.sparkContext
    real = pr.run_supersteps

    def grouped(spark_, init, step, **kwargs):
        def step_in_group(state, k):
            sc.setJobGroup(f"superstep-jobs-{k}", "superstep")
            return step(state, k)

        return real(spark_, init, step_in_group, **kwargs)

    monkeypatch.setattr(pr, "run_supersteps", grouped)
    e = edge_df(spark, zipf_random_pairs(n=60))
    try:
        res = pagerank(e, max_iterations=4, tol=1e-12)
    finally:
        sc._jsc.clearJobGroup()
    assert res.iterations == 4
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(f"superstep-jobs-{k}")) for k in range(4)]
    assert jobs == [1, 1, 1, 1], jobs


def test_supersteps_restore_adaptive_setting(spark):
    """The static materialization never leaks into the session: AQE
    reads as before after a run, after a step that raises, and after a
    state whose materialization fails."""
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from simdgraphprocessing_spark.iteration import run_supersteps

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    init = spark.range(8)

    def ok(state, k):
        return state.select((F.col("id") + 1).alias("id")), {}

    def raises(state, k):
        raise RuntimeError("step failed")

    def fails_in_materialization(state, k):
        return state.select(F.raise_error(F.lit("bad state")).alias("id")), {}

    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            res = run_supersteps(spark, init, ok, max_iterations=2)
            assert sorted(r["id"] for r in res.state.collect()) == list(range(2, 10))
            assert spark.conf.get(key) == value
            for step, error in ((raises, RuntimeError), (fails_in_materialization, PySparkException)):
                with pytest.raises(error):
                    run_supersteps(spark, init, step, max_iterations=2)
                assert spark.conf.get(key) == value
    finally:
        spark.conf.set(key, before)


def test_observed_metrics_match_across_checkpoint_kinds(spark, tmp_path):
    """Convergence metrics are observed while the driver materializes
    each state, both by a localCheckpoint and by a durable parquet
    write: the two runs record the same history and result."""
    e = edge_df(spark, zipf_random_pairs(n=250))
    mem = connected_components(e, max_iterations=60)
    ck = connected_components(e, max_iterations=60, checkpoint_dir=str(tmp_path / "cc"), checkpoint_every=1)
    assert [m["changed"] for m in ck.metrics] == [m["changed"] for m in mem.metrics]
    assert mem.metrics[-1]["changed"] == 0 and mem.iterations == len(mem.metrics)
    assert sorted(ck.state.collect()) == sorted(mem.state.collect())

    mem = pagerank(e, max_iterations=5, tol=1e-12)
    ck = pagerank(e, max_iterations=5, tol=1e-12, checkpoint_dir=str(tmp_path / "pr"), checkpoint_every=2)
    deltas = [m["l1_delta"] for m in mem.metrics]
    assert all(d > 0 for d in deltas)
    assert np.allclose([m["l1_delta"] for m in ck.metrics], deltas, rtol=1e-9)
