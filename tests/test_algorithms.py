"""Iterative algorithms vs numpy oracles (FIXTURES.md §F3):
PageRank allclose(1e-6), CC exact, label propagation exact."""

from __future__ import annotations

import functools
import importlib
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


def _wrap_step(monkeypatch, algorithm, wrap) -> None:
    """Hand ``wrap(step)`` to ``run_supersteps`` instead of the
    algorithm's own superstep, for the rest of the test."""
    algorithm = getattr(algorithm, "func", algorithm)  # a functools.partial
    module = importlib.import_module(algorithm.__module__)
    real = module.run_supersteps

    def patched(spark_, init, step, *args, **kwargs):
        return real(spark_, init, wrap(step), *args, **kwargs)

    monkeypatch.setattr(module, "run_supersteps", patched)


def _record_superstep_states(monkeypatch, algorithm) -> list:
    """Record the new state each superstep hands to ``run_supersteps``
    (superstep k+1 at index k). That DataFrame is the one the driver
    materializes, so after the call its query execution holds the plan
    that ran."""
    states = []

    def wrap(step):
        def recording(state, k):
            new, m = step(state, k)
            states.append(new)
            return new, m

        return recording

    _wrap_step(monkeypatch, algorithm, wrap)
    return states


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _directed_with_dangling(spark):
    """The zipf graph with low → high edges only: the high ids dangle."""
    pairs = zipf_random_pairs(n=60)
    return spark.createDataFrame(pairs, "src long, dst long")


@pytest.mark.parametrize(
    "algorithm",
    [
        pytest.param(functools.partial(pagerank, tol=0.0), id="pagerank"),
        connected_components,
        label_propagation,
    ],
)
def test_supersteps_free_localcheckpoint_blocks(spark, algorithm):
    """Each superstep's localCheckpoint must free the previous one's
    RDD-level blocks immediately — DataFrame.unpersist cannot reach
    them, and waiting for the ContextCleaner leaks one V-sized block
    per superstep (measured: superstep walls degrading 23s -> 46s on
    an 8M-file graph until the periodic GC fired). The checkpointed
    loop inputs (edge leaf, vertex table, initial state) are freed
    too."""
    sc = spark.sparkContext

    def n_persistent() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    pairs = zipf_random_pairs(n=400, seed=11)
    edges = edge_df(spark, pairs)
    base = n_persistent()
    res = algorithm(edges, max_iterations=8)
    # live set after the run: the final state's checkpoint block only
    assert n_persistent() - base <= 1, (base, n_persistent())
    # all 8 supersteps ran, or the labels settled before
    assert res.iterations == 8 or res.metrics[-1]["changed"] == 0
    assert res.iterations >= 3


def test_build_shuffle_plan_runs_at_most_three_jobs(spark):
    """The plan build is the edge-leaf and vertex-table checkpoints; V
    and the dangling count are observed by the second, not collected
    by a job of their own."""
    from simdgraphprocessing_spark.algorithms.pagerank import build_shuffle_plan

    e = _directed_with_dangling(spark)
    sc = spark.sparkContext
    sc.setJobGroup("plan-build-jobs", "plan build")
    try:
        plan = build_shuffle_plan(e)
    finally:
        sc._jsc.clearJobGroup()
    try:
        assert plan.n == 60 and plan.has_dangling
        assert _jobs_in_group(spark, "plan-build-jobs") <= 3
    finally:
        plan.close()


# ---- superstep plan shape: static, co-partitioned materialization ----


def _exchanges(df) -> tuple[list[str], int, int]:
    """Walk the plan that materialized ``df``. Returns every exchange
    node (as its one-line description), the number of scans of a
    checkpointed leaf (``Scan ExistingRDD``), and how many exchanges
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
    """Superstep 2 reads the superstep-1 checkpoint and the edge leaf.
    Both are hash-partitioned (the state by id, the edges by src, to
    the same count), so the superstep's only exchange is the contribs
    groupBy on dst: the state side of both joins and the edges are
    read in place."""
    states = _record_superstep_states(monkeypatch, pagerank)
    e = edge_df(spark, zipf_random_pairs(n=60))
    pagerank(e, max_iterations=2, tol=1e-12)
    assert len(states) == 2
    exchanges, scans, shuffled = _exchanges(states[1])
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(dst" in exchanges[0], exchanges
    assert scans == 3 and shuffled == 0, (scans, shuffled)


@pytest.mark.parametrize("algorithm", [connected_components, label_propagation])
def test_cc_lpa_read_state_without_exchange(spark, monkeypatch, algorithm):
    """Superstep 2 scans the edge leaf once and the state twice, and
    shuffles none of them."""
    states = _record_superstep_states(monkeypatch, algorithm)
    e = edge_df(spark, zipf_random_pairs(n=60))
    res = algorithm(e, max_iterations=3)
    assert res.iterations >= 2 and len(states) >= 2
    exchanges, scans, shuffled = _exchanges(states[1])
    assert scans == 3 and shuffled == 0, (scans, shuffled, exchanges)


def _logical_plan(df) -> tuple[int, set[str]]:
    """Node count and leaf node classes of ``df``'s analyzed plan."""
    nodes, leaves = 0, set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        nodes += 1
        kids = node.children()
        if kids.size() == 0:
            leaves.add(node.getClass().getSimpleName())
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes, leaves


@pytest.mark.parametrize("algorithm", [pagerank, connected_components, label_propagation])
def test_superstep_plan_does_not_carry_input_lineage(spark, monkeypatch, algorithm):
    """The loop's inputs are checkpointed leaves: superstep 2 plans the
    same few nodes whether the edges come straight from a table or
    through 60 chained select/filter/union steps, and every leaf of
    that plan is a checkpoint (``LogicalRDD``)."""
    from pyspark.sql import functions as F

    states = _record_superstep_states(monkeypatch, algorithm)
    shallow = edge_df(spark, zipf_random_pairs(n=60))
    deep = shallow
    for i in range(20):
        deep = (
            deep.select("src", "dst")
            .filter(F.col("src") >= -i)
            .union(shallow.filter(F.lit(False)))
        )
    results = []
    for e in (shallow, deep):
        states.clear()
        results.append(dict(algorithm(e, max_iterations=2).state.collect()))
        assert len(states) == 2
        results.append(_logical_plan(states[1]))
    shallow_result, shallow_plan, deep_result, deep_plan = results
    assert deep_plan == shallow_plan and shallow_plan[1] == {"LogicalRDD"}, (shallow_plan, deep_plan)
    # ranks within 1e-12; integer labels, exactly
    assert deep_result.keys() == shallow_result.keys()
    assert all(abs(deep_result[v] - shallow_result[v]) < 1e-12 for v in shallow_result)


def test_pagerank_superstep_runs_one_job(spark, monkeypatch):
    """Each in-memory superstep's jobs, counted by job group from the
    status store: the static materialization is the only one (no
    adaptive stage jobs, no separate convergence action, and with
    dangling vertices no dangling-mass action: the mass is observed
    on the previous superstep's job, or known from the plan for the
    first)."""
    sc = spark.sparkContext
    graphs = {
        "symmetric": edge_df(spark, zipf_random_pairs(n=60)),
        "dangling": _directed_with_dangling(spark),
    }
    for graph, e in graphs.items():

        def wrap(step, graph=graph):
            def step_in_group(state, k):
                sc.setJobGroup(f"superstep-jobs-{graph}-{k}", "superstep")
                return step(state, k)

            return step_in_group

        _wrap_step(monkeypatch, pagerank, wrap)
        try:
            res = pagerank(e, max_iterations=4, tol=1e-12)
        finally:
            sc._jsc.clearJobGroup()
            monkeypatch.undo()
        assert res.iterations == 4
        assert all((m["dangling_mass"] > 0) == (graph == "dangling") for m in res.metrics)
        jobs = [_jobs_in_group(spark, f"superstep-jobs-{graph}-{k}") for k in range(4)]
        assert jobs == [1, 1, 1, 1], (graph, jobs)


def test_pagerank_resume_with_dangling_vertices(spark, tmp_path):
    """A resumed run has no observed dangling mass for its first
    superstep and computes it from the resumed state: ranks and the
    per-superstep dangling mass equal those of an uninterrupted run."""
    e = _directed_with_dangling(spark)
    ck = str(tmp_path / "ck")
    pagerank(e, max_iterations=3, tol=1e-12, checkpoint_dir=ck)
    res = pagerank(e, max_iterations=6, tol=1e-12, checkpoint_dir=ck)
    clean = pagerank(e, max_iterations=6, tol=1e-12)
    assert res.resumed_from == 3 and res.iterations == clean.iterations == 6
    got, want = dict(res.state.collect()), dict(clean.state.collect())
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)
    masses = [m["dangling_mass"] for m in res.metrics]
    assert masses[0] > 0
    assert np.allclose(masses, [m["dangling_mass"] for m in clean.metrics], rtol=1e-12, atol=0)


# ---- crash injection: kill a checkpointed run, resume it ----


class _Crash(RuntimeError):
    pass


def _crash_once_in_superstep(monkeypatch, algorithm, superstep: int) -> None:
    """The first time superstep ``superstep`` (1-based) runs, its step
    builds the new state and then raises, as a driver killed mid-step."""
    crashed = []

    def wrap(step):
        def crashing(state, k):
            out = step(state, k)
            if k + 1 == superstep and not crashed:
                crashed.append(k)
                raise _Crash(f"killed in superstep {superstep}")
            return out

        return crashing

    _wrap_step(monkeypatch, algorithm, wrap)


def _history(res) -> list[dict]:
    """Per-superstep metrics minus what differs between two correct
    runs (wall time, part-file names)."""
    return [
        {k: v for k, v in m.items() if k not in ("wall_sec", "partition_lineage")}
        for m in res.metrics
    ]


@pytest.mark.parametrize(
    "algorithm",
    [
        pytest.param(functools.partial(pagerank, tol=1e-12), id="pagerank"),
        connected_components,
        label_propagation,
    ],
)
@pytest.mark.parametrize("crash", ["raise_in_step", "lose_metrics", "torn_metrics"])
def test_resume_after_crash(spark, tmp_path, monkeypatch, algorithm, crash):
    """Kill a ``checkpoint_every=1`` run at superstep 3, by raising
    inside the step, by losing only ``superstep=3/_metrics.json`` (the
    driver died between the parquet commit and the metrics write) or
    by truncating that file to half its bytes (the driver died during
    the write), then rerun: it resumes from superstep 2, and its result
    and per-superstep history equal an uninterrupted run's."""
    k = 3
    e = edge_df(spark, [(i, i + 1) for i in range(11)])  # 12-vertex path
    clean = algorithm(e, max_iterations=6, checkpoint_dir=str(tmp_path / "clean"), checkpoint_every=1)
    ck = tmp_path / "ck"
    if crash == "raise_in_step":
        _crash_once_in_superstep(monkeypatch, algorithm, k)
        with pytest.raises(_Crash):
            algorithm(e, max_iterations=6, checkpoint_dir=str(ck), checkpoint_every=1)
        assert not (ck / f"superstep={k}").exists()
    else:
        algorithm(e, max_iterations=k, checkpoint_dir=str(ck), checkpoint_every=1)
        metrics = ck / f"superstep={k}" / "_metrics.json"
        if crash == "lose_metrics":
            os.remove(metrics)
        else:
            os.truncate(metrics, os.path.getsize(metrics) // 2)
    res = algorithm(e, max_iterations=6, checkpoint_dir=str(ck), checkpoint_every=1)
    assert clean.iterations >= 4
    assert res.resumed_from == k - 1 and res.iterations == clean.iterations
    got_history, want_history = _history(res), _history(clean)
    assert [m.keys() for m in got_history] == [m.keys() for m in want_history]
    for got_m, want_m in zip(got_history, want_history):
        assert got_m == pytest.approx(want_m, rel=1e-9, abs=1e-15), (got_m, want_m)
    got, want = dict(res.state.collect()), dict(clean.state.collect())
    # ranks within 1e-12; integer labels, exactly
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)


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


# K4 on 0-3, triangle 0-1-6, and a separate edge 4-5: five triangles,
# one 4-clique, two components
_SEVEN_VERTICES = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 6), (1, 6), (4, 5)]


@pytest.mark.parametrize(
    "to_id",
    [
        pytest.param(lambda i: i * 7919, id="x7919"),
        pytest.param(lambda i: i * 7919 + 2**40, id="x7919+2^40"),
        pytest.param(lambda i: i * 7919 + 2**62, id="x7919+2^62"),
        pytest.param(lambda i: i * 2**60, id="x2^60"),
    ],
)
def test_non_dense_ids(spark, to_id):
    """Ids that are sparse, far from zero or spread wider than 2^62 give
    the dense-id answers under the inverse id map. At ×2^60 the csr
    intersect kernel's composite keys would overflow int64, so the
    triangle and clique csr plans take its per-row fallback."""
    from simdgraphprocessing_spark.operators import clique_count, triangle_count

    A = numpy_graph(_SEVEN_VERTICES)
    e = edge_df(spark, [(to_id(a), to_id(b)) for a, b in _SEVEN_VERTICES])
    dense = {to_id(i): i for i in range(7)}

    def by_dense_id(res):
        return {dense[v]: x for v, x in res.state.collect()}

    ranks = by_dense_id(pagerank(e))
    assert np.allclose([ranks[i] for i in range(7)], pagerank_oracle(A), atol=1e-6)
    comp = by_dense_id(connected_components(e))
    assert {v: dense[c] for v, c in comp.items()} == cc_oracle(_SEVEN_VERTICES, 7)
    labels = by_dense_id(label_propagation(e, max_iterations=4))
    assert [dense[labels[i]] for i in range(7)] == list(lpa_oracle(A, 4))
    for method in ("auto", "csr", "join"):
        assert triangle_count(e, method=method).collect()[0]["triangles"] == 5
    assert clique_count(e, k=4).collect()[0]["cliques"] == 1
