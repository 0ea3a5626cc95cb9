"""The benchmark's calls into the engine's public entry points and the
rounds each workload repeats.

Every call is timed alone (the public call plus the action that
materialises its result), in wall seconds and in CPU seconds of the
process tree, and then checked against the numpy oracles
outside the timed region. A call that raises or fails its check counts
as failed. While tracing, each call also runs under its own Spark job
group and inside a span; :meth:`Runner.stages` sums the group's
completed stages from the status store, after the call.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from perfbench import oracles
from perfbench.sparkstats import StageTotals, python_boundary, stage_totals
from perfbench.stats import median, process_tree_cpu_s

PAGERANK_ITERATIONS = 10  # the gated round's pagerank
# the traced sweep's pagerank, label_propagation and durable pagerank run
# this many supersteps: enough for a per-step median past the first step,
# few enough that a traced run costs little more than a gated one
SWEEP_ITERATIONS = 3
STOP_AT = 1  # the resumed durable pagerank restarts after this superstep
RANK_RTOL = 1e-6
WARMUP_SUPERSTEPS = 2

ROUNDS = {
    "iterative": ("pagerank",),
    "triangles": ("triangles_auto", "triangles_join"),
}


@dataclass
class Truth:
    """Oracle answers for one graph (dense ids ``[0, n)``)."""

    src: np.ndarray
    dst: np.ndarray
    n: int
    ranks: dict[int, np.ndarray]  # by number of iterations
    components: np.ndarray
    cc_supersteps: int
    labels: np.ndarray
    lpa_supersteps: int
    triangles: int
    merge_ops: int

    @classmethod
    def compute(cls, src: np.ndarray, dst: np.ndarray) -> "Truth":
        n = int(max(src.max(), dst.max())) + 1
        comps, cc_steps = oracles.connected_components(src, dst, n)
        labels, lpa_steps = oracles.label_propagation(src, dst, n, SWEEP_ITERATIONS)
        return cls(
            src, dst, n,
            ranks={k: oracles.pagerank(src, dst, n, k) for k in (PAGERANK_ITERATIONS, SWEEP_ITERATIONS)},
            components=comps, cc_supersteps=cc_steps,
            labels=labels, lpa_supersteps=lpa_steps,
            triangles=oracles.triangle_count(src, dst),
            merge_ops=oracles.merge_ops(src, dst),
        )


@dataclass
class Call:
    name: str
    wall: float
    cpu: float  # CPU seconds of this process and its descendants
    edge_rows: int  # edge rows processed: graph rows x passes over them
    result: object
    group: str | None  # Spark job group, set while tracing


def vertex_column(df, column: str, n: int) -> np.ndarray | None:
    """``df(id, column)`` as a dense array indexed by id, or None when
    its ids are not exactly ``[0, n)``."""
    tbl = df.select("id", column).toArrow()
    ids = tbl.column("id").to_numpy()
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        return None
    out = np.empty(n, dtype=tbl.column(column).type.to_pandas_dtype())
    out[ids] = tbl.column(column).to_numpy()
    return out


class Runner:
    """Issues one call at a time (a closed loop with one client)."""

    def __init__(self, spark, edges, edge_rows: int, truth: Truth, workdir: str, tracer):
        self.spark = spark
        self.edges = edges
        self.edge_rows = edge_rows
        self.truth = truth
        self.workdir = workdir
        self.tracer = tracer
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.traced_calls: list[Call] = []
        self._stages: dict[str, StageTotals] = {}  # by job group
        self.tracing_s = 0.0  # job-group and status-store bookkeeping of traced calls
        self.uninterrupted_ranks: np.ndarray | None = None

    # -- bookkeeping -------------------------------------------------

    def _run(self, name: str, fn, check, passes) -> Call | None:
        """Time ``fn()``, then ``check(result)`` -> problem text or None.
        ``passes(result)`` is the number of passes over the edge rows."""
        self.attempted += 1
        sc = self.spark.sparkContext
        group = f"{name}#{self.attempted}" if self.tracing else None
        if group:
            t0 = time.perf_counter()
            sc.setJobGroup(group, name)
            self.tracing_s += time.perf_counter() - t0
        try:
            with self.tracer.span(name):  # records only in traced runs
                cpu0, t0 = process_tree_cpu_s(), time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
                cpu = process_tree_cpu_s() - cpu0
            problem = check(out)
        except Exception as ex:  # a raising call is a failed operation, not a crash
            problem = f"raised {type(ex).__name__}: {str(ex).splitlines()[0] if str(ex) else ''}"
        finally:
            if group:
                sc._jsc.clearJobGroup()
        if problem:
            self.failed += 1
            self.failures.append(f"{name}: {problem}")
            print(f"FAILED {name}: {problem}", flush=True)
            return None
        call = Call(name, wall, cpu, self.edge_rows * passes(out), out, group)
        if group:
            self.traced_calls.append(call)
        return call

    def stages(self, call: Call) -> StageTotals:
        """The traced call's completed stages, read once and only where a
        metric needs them (a read is hundreds of py4j round trips)."""
        if call.group not in self._stages:
            t0 = time.perf_counter()
            self._stages[call.group] = stage_totals(self.spark, call.group)
            self.tracing_s += time.perf_counter() - t0
        return self._stages[call.group]

    def _ckpt_dir(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- checks --------------------------------------------------------

    def _ranks_problem(self, result, expected: np.ndarray, iterations: int) -> str | None:
        if result.iterations != iterations:
            return f"ran {result.iterations} supersteps, expected {iterations}"
        ranks = vertex_column(result.state, "rank", self.truth.n)
        if ranks is None:
            return "rank ids are not the graph's vertex ids"
        if not np.allclose(ranks, expected, rtol=RANK_RTOL, atol=0.0):
            return f"ranks differ by up to {np.max(np.abs(ranks - expected) / expected):.3g} (relative)"
        return None

    def _labels_problem(self, result, column, expected, supersteps) -> str | None:
        got = vertex_column(result.state, column, self.truth.n)
        if got is None:
            return f"{column} ids are not the graph's vertex ids"
        if not np.array_equal(got, expected):
            return f"{int((got != expected).sum())} vertices have the wrong {column}"
        if result.iterations != supersteps:
            return f"ran {result.iterations} supersteps, oracle needs {supersteps}"
        return None

    def _count_problem(self, got) -> str | None:
        if got != self.truth.triangles:
            return f"counted {got} triangles, oracle counts {self.truth.triangles}"
        return None

    # -- the public entry points ---------------------------------------

    def pagerank(self, plan=None, iterations: int = PAGERANK_ITERATIONS) -> Call | None:
        from simdgraphprocessing_spark.algorithms.pagerank import pagerank

        return self._run(
            "pagerank",
            lambda: pagerank(self.edges, max_iterations=iterations, tol=0.0, plan=plan),
            lambda r: self._ranks_problem(r, self.truth.ranks[iterations], iterations),
            lambda r: r.iterations,
        )

    def connected_components(self) -> Call | None:
        from simdgraphprocessing_spark.algorithms.components import connected_components

        return self._run(
            "connected_components",
            lambda: connected_components(self.edges),
            lambda r: self._labels_problem(r, "component", self.truth.components, self.truth.cc_supersteps),
            lambda r: r.iterations,
        )

    def label_propagation(self) -> Call | None:
        from simdgraphprocessing_spark.algorithms.labelprop import label_propagation

        return self._run(
            "label_propagation",
            lambda: label_propagation(self.edges, max_iterations=SWEEP_ITERATIONS),
            lambda r: self._labels_problem(r, "label", self.truth.labels, self.truth.lpa_supersteps),
            lambda r: r.iterations,
        )

    def triangles_auto(self) -> Call | None:
        from simdgraphprocessing_spark.operators.triangles import triangle_count

        return self._run(
            "triangles_auto",
            lambda: triangle_count(self.edges).collect()[0]["triangles"],
            self._count_problem,
            lambda _: 1,
        )

    def triangles_join(self) -> Call | None:
        from simdgraphprocessing_spark.operators.triangles import triangle_count

        return self._run(
            "triangles_join",
            lambda: triangle_count(self.edges, method="join").collect()[0]["triangles"],
            self._count_problem,
            lambda _: 1,
        )

    def _pagerank_durable(self, name: str, directory: str, iterations: int, check) -> Call | None:
        from simdgraphprocessing_spark.algorithms.pagerank import pagerank

        return self._run(
            name,
            lambda: pagerank(
                self.edges, max_iterations=iterations, tol=0.0,
                checkpoint_dir=directory, checkpoint_every=1,
            ),
            check,
            lambda r: r.iterations - (r.resumed_from or 0),
        )

    def pagerank_checkpointed(self) -> Call | None:
        def check(r):
            problem = self._ranks_problem(r, self.truth.ranks[SWEEP_ITERATIONS], SWEEP_ITERATIONS)
            if problem is None:
                self.uninterrupted_ranks = vertex_column(r.state, "rank", self.truth.n)
            return problem

        return self._pagerank_durable(
            "pagerank_checkpointed", self._ckpt_dir("ckpt-full"), SWEEP_ITERATIONS, check
        )

    def pagerank_resumed(self) -> Call | None:
        """Resume the checkpointed run as if its driver had died right
        after superstep ``STOP_AT``: the later checkpoints (the engine's
        ``superstep=K`` directories) are deleted, then the same call
        continues from the last complete one."""
        directory = os.path.join(self.workdir, "ckpt-full")
        for k in range(STOP_AT + 1, SWEEP_ITERATIONS + 1):
            shutil.rmtree(os.path.join(directory, f"superstep={k}"), ignore_errors=True)

        def check(r):
            if r.resumed_from != STOP_AT:
                return f"resumed from {r.resumed_from}, expected {STOP_AT}"
            return self._ranks_problem(r, self.uninterrupted_ranks, SWEEP_ITERATIONS)

        return self._pagerank_durable("pagerank_resumed", directory, SWEEP_ITERATIONS, check)

    def round(self, workload: str) -> list[Call | None]:
        return [getattr(self, name)() for name in ROUNDS[workload]]

    def warm_up(self, workload: str) -> None:
        """Unmeasured, unchecked calls of the workload's entry points, so
        the JIT has compiled their code paths before timing starts.
        ``iterative`` warms up with ``WARMUP_SUPERSTEPS`` of pagerank.
        ``triangles`` warms up with three rounds: its round times still
        fall after two."""
        from simdgraphprocessing_spark.algorithms.pagerank import pagerank
        from simdgraphprocessing_spark.operators.triangles import triangle_count

        calls = {
            "iterative": (
                lambda: pagerank(self.edges, max_iterations=WARMUP_SUPERSTEPS, tol=0.0),
            ),
            "triangles": (
                lambda: triangle_count(self.edges).collect(),
                lambda: triangle_count(self.edges, method="join").collect(),
            ) * 3,
        }
        for call in calls[workload]:
            call()


def _step_walls(result) -> list[float]:
    return [m["wall_sec"] for m in result.metrics]


def layer_sweep(runner: Runner, workload: str) -> dict:
    """One traced call of every entry point, split into layers; returns
    the per-layer metrics (see :mod:`perfbench.metrics`). The whole-engine
    counters sum the stages of the workload's own calls."""
    from simdgraphprocessing_spark import kernels
    from simdgraphprocessing_spark.algorithms.pagerank import build_shuffle_plan
    from simdgraphprocessing_spark.graph import orient_by_degree
    from simdgraphprocessing_spark.operators.triangles import broadcast_oriented_csr

    runner.tracing = True
    t, e_rows, out = runner.truth, runner.edge_rows, {}

    plan_call = runner._run(
        "pagerank.plan_build", lambda: build_shuffle_plan(runner.edges),
        lambda p: None if p.n == t.n else f"plan has {p.n} vertices, graph {t.n}",
        lambda _: 1,
    )
    if plan_call:
        pr = runner.pagerank(plan=plan_call.result, iterations=SWEEP_ITERATIONS)
        plan_call.result.close()
        if pr:
            steps, st = pr.result.iterations, runner.stages(pr)
            walls = _step_walls(pr.result)
            out.update({
                "pagerank_edges_per_s": e_rows * steps / (plan_call.wall + pr.wall),
                "pagerank.plan_build_s": plan_call.wall,
                "pagerank.step_median_s": median(walls),
                "pagerank.first_step_s": walls[0],
                "pagerank.stages_per_step": st.stages / steps,
                "pagerank.shuffle_write_bytes_per_step": st.shuffle_write_bytes / steps,
                "pagerank.shuffle_read_bytes_per_step": st.shuffle_read_bytes / steps,
                "pagerank.executor_cpu_s_per_step": st.executor_cpu_s / steps,
                "pagerank.gc_s_per_step": st.gc_s / steps,
            })

    cc = runner.connected_components()
    if cc:
        out.update({
            "cc_s": cc.wall,
            "cc.supersteps": cc.result.iterations,
            "cc.step_median_s": median(_step_walls(cc.result)),
        })
    lpa = runner.label_propagation()
    if lpa:
        out.update({"lpa_s": lpa.wall, "lpa.step_median_s": median(_step_walls(lpa.result))})

    oriented = orient_by_degree(runner.edges)
    u, v, _ = oracles.oriented_csr(t.src, t.dst)
    csr = runner._run(
        "triangles.csr_build", lambda: broadcast_oriented_csr(oriented),
        lambda bc: None if bc is not None and len(bc.value[2]) == len(u)
        else "CSR missing or not one value per oriented edge",
        lambda _: 1,
    )
    if csr:
        ids, offsets, values, _universe = csr.result.value

        def row_bounds(x):
            i = np.searchsorted(ids, x)
            hit = (i < len(ids)) & (ids[np.minimum(i, len(ids) - 1)] == x)
            return np.where(hit, offsets[i], 0), np.where(hit, offsets[np.minimum(i + 1, len(ids))], 0)

        (sa, ea), (sb, eb) = row_bounds(u), row_bounds(v)
        kern = runner._run(
            "kernels.intersect",
            lambda: int(kernels.intersect_count_pairs(sa, ea, sb, eb, values).sum()),
            runner._count_problem,
            lambda _: 1,
        )
        out.update({"triangles.csr_build_s": csr.wall, "triangles.csr_values": len(values)})
        if kern:
            out.update({
                "kernels.intersect_s": kern.wall,
                "kernels.merge_ops": t.merge_ops,
                "kernels.ops_per_s": t.merge_ops / kern.wall,
            })
    auto = runner.triangles_auto()
    if auto:
        py = python_boundary(runner.spark, auto.group)
        out.update({
            "triangles_per_s": t.triangles / auto.wall,
            "triangles.python_start_s": py["python_start_s"],
            "triangles.python_run_s": py["python_run_s"],
            "triangles.arrow_bytes_to_python": py["bytes_to_python"],
        })
        if csr:
            out["triangles.stream_s"] = auto.wall - csr.wall
    join = runner.triangles_join()
    if join:
        out.update({
            "triangle_join_s": join.wall,
            "triangles.join_shuffle_bytes": runner.stages(join).shuffle_write_bytes,
        })

    full = runner.pagerank_checkpointed()
    if full:
        lineage = [sum(f["bytes"] for f in m["partition_lineage"]) for m in full.result.metrics]
        out.update({
            "checkpointed_pagerank_s": full.wall,
            "ckpt.step_median_s": median(_step_walls(full.result)),
            "ckpt.state_bytes_per_step": median(lineage),
        })
        resumed = runner.pagerank_resumed()
        if resumed:
            r = resumed.result
            out.update({
                "resume_s": resumed.wall,
                "resume.first_step_s": r.metrics[r.resumed_from]["wall_sec"],
                "resume.supersteps_run": r.iterations - r.resumed_from,
            })

    own = StageTotals()
    for c in runner.traced_calls:
        if c.name in ROUNDS[workload]:
            own.add(runner.stages(c))
    out.update({
        "spark.gc_s": own.gc_s,
        "spark.executor_cpu_s": own.executor_cpu_s,
        "spark.shuffle_write_bytes": own.shuffle_write_bytes,
        # tracing adds no work inside a timed call; its cost is the
        # bookkeeping around the calls, as a share of their timed walls
        "trace.overhead_pct": 100.0 * runner.tracing_s / sum(c.wall for c in runner.traced_calls),
    })
    return out
