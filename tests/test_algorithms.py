"""Iterative algorithms vs numpy oracles (FIXTURES.md §F3):
PageRank allclose(1e-6), CC exact, label propagation exact."""

from __future__ import annotations

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


def test_pagerank_gather_matches_shuffle_and_oracle(spark):
    from simdgraphprocessing_spark.algorithms import pagerank_gather

    pairs = zipf_random_pairs(n=150)
    n = max(max(p) for p in pairs) + 1
    e = spark.createDataFrame(pairs, "src long, dst long")
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in pairs:
        A[a, b] = 1
    got = {
        r["id"]: r["rank"]
        for r in pagerank_gather(e, max_iterations=25, tol=1e-12).state.collect()
    }
    expect = pagerank_oracle(A, iters=25, tol=1e-12)
    shuffle = {
        r["id"]: r["rank"]
        for r in pagerank(e, max_iterations=25, tol=1e-12).state.collect()
    }
    # gather path covers the full dense range [0, n); compare where both
    # define a vertex, and against the dense numpy oracle everywhere
    for i in shuffle:
        assert abs(got[i] - shuffle[i]) < 1e-9
    got_v = np.array([got[i] for i in range(n)])
    assert np.allclose(got_v, expect, atol=1e-6)


def test_pagerank_gather_checkpoint_resume(spark, tmp_path):
    from simdgraphprocessing_spark.algorithms import pagerank_gather

    pairs = zipf_random_pairs(n=80)
    e = edge_df(spark, pairs)
    ck = str(tmp_path / "prg_ck")
    pagerank_gather(e, max_iterations=3, tol=0.0, checkpoint_dir=ck)
    resumed = pagerank_gather(e, max_iterations=6, tol=0.0, checkpoint_dir=ck)
    assert resumed.resumed_from == 3
    fresh = pagerank_gather(e, max_iterations=6, tol=0.0)
    a = {r["id"]: r["rank"] for r in resumed.state.collect()}
    b = {r["id"]: r["rank"] for r in fresh.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    # per-superstep metrics survive the resume
    assert [m["superstep"] for m in resumed.metrics] == [1, 2, 3, 4, 5, 6]


def test_pagerank_auto_probes_and_matches(spark):
    """pagerank_auto's probed supersteps are REAL supersteps (shuffle
    probe state hands off to gather via initial_ranks and back on
    fallback), so whatever strategy path a given run takes, the final
    ranks must match the plain shuffle plan and the decision must be
    logged."""
    from simdgraphprocessing_spark.algorithms import pagerank_auto

    pairs = zipf_random_pairs(n=120)
    e = edge_df(spark, pairs)
    res = pagerank_auto(e, max_iterations=8, tol=0.0)
    probe = res.strategy_probe
    assert probe is not None and probe["chosen"] in ("shuffle", "gather")
    assert probe["shuffle_min_step_sec"] > 0
    # 8 iterations leave 6 after the probe — under the default
    # amortization floor, so gather must not even be attempted (its
    # ~5-superstep setup fee can't be recouped) and the gate is logged
    assert probe["chosen"] == "shuffle"
    assert "gather_skipped" in probe
    assert res.iterations == 8
    assert [m["superstep"] for m in res.metrics] == list(range(1, 9))
    base = pagerank(e, max_iterations=8, tol=0.0)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    exp = {r["id"]: r["rank"] for r in base.state.collect()}
    assert set(got) == set(exp)
    assert all(abs(got[i] - exp[i]) < 1e-9 for i in got)


def test_pagerank_auto_gather_keeps_slot_with_big_budget(spark):
    """With an effectively unlimited per-step budget the gather plan
    runs the whole remainder: chosen == "gather", no fallback, and the
    cross-strategy continuation (shuffle steps 1-2, gather steps 3-8)
    still reproduces the shuffle plan's ranks exactly."""
    from simdgraphprocessing_spark.algorithms import pagerank_auto

    pairs = zipf_random_pairs(n=120)
    e = edge_df(spark, pairs)
    res = pagerank_auto(
        e,
        max_iterations=8,
        tol=0.0,
        gather_step_budget_factor=1e9,
        min_gather_amortization_iters=1,
    )
    probe = res.strategy_probe
    assert probe["chosen"] == "gather"
    assert probe["fallback_superstep"] is None
    assert probe["gather_min_step_sec"] > 0
    assert res.iterations == 8
    base = pagerank(e, max_iterations=8, tol=0.0)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    exp = {r["id"]: r["rank"] for r in base.state.collect()}
    assert all(abs(got[i] - exp[i]) < 1e-9 for i in got)


def test_pagerank_auto_evicts_slow_gather_mid_run(spark):
    """A zero budget makes gather's first superstep over-budget: it
    must still COUNT (post-step check — no discarded work), then the
    shuffle plan finishes the run from gather's rank state. The
    composed run matches plain shuffle and records where the fallback
    happened."""
    from simdgraphprocessing_spark.algorithms import pagerank_auto

    pairs = zipf_random_pairs(n=120)
    e = edge_df(spark, pairs)
    res = pagerank_auto(
        e,
        max_iterations=8,
        tol=0.0,
        gather_step_budget_factor=0.0,
        min_gather_amortization_iters=1,
    )
    probe = res.strategy_probe
    assert probe["chosen"] == "shuffle"
    # probe(2 shuffle) + 1 counted-but-evicted gather step
    assert probe["fallback_superstep"] == 3
    assert res.iterations == 8
    assert [m["superstep"] for m in res.metrics] == list(range(1, 9))
    assert res.metrics[2].get("timeout_exceeded") is True
    base = pagerank(e, max_iterations=8, tol=0.0)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    exp = {r["id"]: r["rank"] for r in base.state.collect()}
    assert all(abs(got[i] - exp[i]) < 1e-9 for i in got)


def test_pagerank_auto_demotes_oversized_vertex_space(spark, monkeypatch):
    """Graphs beyond the gather plan's dense-vector cap must auto-pick
    the shuffle plan with the demotion visible in the probe log."""
    import importlib

    from simdgraphprocessing_spark.algorithms import pagerank_auto

    # the package re-exports the function under the module's name, so
    # resolve the real module through importlib
    pg = importlib.import_module(
        "simdgraphprocessing_spark.algorithms.pagerank_gather"
    )
    monkeypatch.setattr(pg, "MAX_DENSE_VERTICES", 10)
    pairs = zipf_random_pairs(n=120)
    e = edge_df(spark, pairs)
    res = pagerank_auto(
        e, max_iterations=3, tol=0.0, min_gather_amortization_iters=1
    )
    assert res.strategy_probe["chosen"] == "shuffle"
    assert res.strategy_probe["gather_min_step_sec"] is None
    assert "gather_skipped" not in res.strategy_probe  # demoted, not gated


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


def test_sustained_exceeded_pure_rules():
    """Lower-median over post-setup walls: the setup step never
    counts, <2 post-setup samples never evict, and a single slow
    burst among good steps never evicts (lower median = the faster
    of two)."""
    from simdgraphprocessing_spark.algorithms.pagerank_gather import (
        _sustained_exceeded,
    )

    assert _sustained_exceeded([], 1.0) is False
    assert _sustained_exceeded([9.0], 1.0) is False  # setup only
    assert _sustained_exceeded([9.0, 5.0], 1.0) is False  # 1 sample
    # run-6 local[8] shape: 12s sustained vs 7.3s budget -> evict
    assert _sustained_exceeded([11.0, 12.4, 12.0], 7.3) is True
    # run-6 local[32] shape: sub-second sustained vs 3.0s budget -> keep
    assert _sustained_exceeded([9.0, 0.93, 0.81], 3.0) is False
    # one steal burst among good steps -> keep (lower median)
    assert _sustained_exceeded([9.0, 1.0, 6.0], 3.0) is False
    assert _sustained_exceeded([9.0, 1.0, 6.0, 1.1], 3.0) is False


def test_pagerank_gather_sustained_eviction(spark):
    """With the catastrophic per-step budget too loose to ever trip,
    a sustained budget of zero must evict at exactly the minimum
    3 counted steps (setup + 2 post-setup samples), flagged so
    pagerank_auto's phase 3 takes over."""
    from simdgraphprocessing_spark.algorithms import pagerank_gather

    pairs = zipf_random_pairs(n=120)
    e = spark.createDataFrame(pairs, "src long, dst long")
    res = pagerank_gather(
        e,
        max_iterations=8,
        tol=0.0,
        step_timeout_sec=1e9,
        sustained_budget_sec=0.0,
    )
    assert res.iterations == 3
    assert res.metrics[-1]["sustained_exceeded"] is True
    assert res.metrics[-1]["timeout_exceeded"] is True
    assert not any("sustained_exceeded" in m for m in res.metrics[:-1])


def test_pagerank_auto_records_sustained_budget(spark):
    """The probe log carries both yardsticks: the catastrophic
    per-step budget (x median probe wall) and the sustained budget
    (x min probe wall), with sustained <= per-step by construction."""
    from simdgraphprocessing_spark.algorithms import pagerank_auto

    pairs = zipf_random_pairs(n=120)
    e = edge_df(spark, pairs)
    res = pagerank_auto(
        e, max_iterations=12, tol=0.0, min_gather_amortization_iters=1
    )
    probe = res.strategy_probe
    assert probe["gather_sustained_budget_sec"] is not None
    assert (
        probe["gather_sustained_budget_sec"]
        <= probe["gather_step_budget_sec"] + 1e-9
    )
    base = pagerank(e, max_iterations=12, tol=0.0)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    exp = {r["id"]: r["rank"] for r in base.state.collect()}
    assert all(abs(got[i] - exp[i]) < 1e-9 for i in got)


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
