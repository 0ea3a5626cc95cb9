"""The benchmark's metric and workload table — the single source of
``BENCHMARK.json`` (``python3 perfbench/metrics.py`` prints it).

End-to-end metrics are reported by every workload with tracing off.
``round_cpu_s`` is the median CPU time (user + system, in seconds) that
the driver process, the driver JVM and its Python workers spend on one
round of the workload's calls. The round's wall time is printed but not
gated: on a shared 4-vCPU host, where the hypervisor stole 0.5-26% of
the CPU time of a run, ten seeds spread the wall time (quartile distance
over median) by 0.38 on ``iterative`` and 0.22 on ``triangles``, and the
CPU time by 0.09 and 0.13.
Per-layer metrics are reported by every workload's traced run; each
names the end-to-end metric it should move and the workload on which
it should move it (``moves``/``on``), so a perf change can say in
advance which numbers it expects to change. The traced sweep runs
pagerank, label_propagation and the durable pagerank for
``workloads.SWEEP_ITERATIONS`` supersteps, so their whole-call readings
(``pagerank_edges_per_s``, ``lpa_s``, ``checkpointed_pagerank_s``,
``resume_s``) compare only with other traced runs.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 6

WORKLOADS = {
    "triangles": (
        "triangle_count auto (broadcast CSR + mapInArrow kernel) and join "
        "plans; the superstep driver does not run"
    ),
    "iterative": (
        "pagerank(10): superstep driver, shuffle joins and localCheckpoint; "
        "no triangle or kernel code runs"
    ),
}
# connected_components, label_propagation and the durable-checkpoint path
# (pagerank with checkpoint_dir, its resume after superstep k) are in no
# gated round: each gated run pays a Spark start and a cold graph build,
# and more supersteps per run or a third workload do not fit the run
# budget on a shared 4-core host. Their calls run in every traced run's
# layer sweep, and their metrics say ``on="none"``.


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "higher" or "lower"
    bound: float | None = None  # end-to-end only: allowed regression share
    moves: str = ""  # per-layer only: the end-to-end metric it should move
    on: str = ""  # per-layer only: a workload, "all", or "none" (sweep only)


END_TO_END = [
    Metric("setup_s", "s", "lower", bound=0.25),
    Metric("round_cpu_s", "s", "lower", bound=0.25),
    Metric("peak_rss_mb", "MB", "lower", bound=0.1),
]

_IT, _TRI, _ALL, _NONE = "iterative", "triangles", "all", "none"

PER_LAYER = [
    # one traced call per public entry point
    Metric("pagerank_edges_per_s", "edges/s", "higher", moves="round_cpu_s", on=_IT),
    Metric("cc_s", "s", "lower", on=_NONE),
    Metric("lpa_s", "s", "lower", on=_NONE),
    Metric("triangles_per_s", "triangles/s", "higher", moves="round_cpu_s", on=_TRI),
    Metric("triangle_join_s", "s", "lower", moves="round_cpu_s", on=_TRI),
    Metric("checkpointed_pagerank_s", "s", "lower", on=_NONE),
    Metric("resume_s", "s", "lower", on=_NONE),
    Metric("op_failure_ratio", "ratio", "lower", moves="round_cpu_s", on=_ALL),
    # set-up layers
    Metric("session.start_s", "s", "lower", moves="setup_s", on=_ALL),
    Metric("corpus.extract_s", "s", "lower", moves="setup_s", on=_ALL),
    Metric("corpus.raw_edge_rows", "count", "higher", moves="setup_s", on=_ALL),
    Metric("graph.degree_order_s", "s", "lower", moves="setup_s", on=_ALL),
    Metric("graph.edge_rows", "count", "higher", moves="setup_s", on=_ALL),
    Metric("graph.vertices", "count", "higher", moves="setup_s", on=_ALL),
    # superstep driver + algorithm bodies
    Metric("pagerank.plan_build_s", "s", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.step_median_s", "s", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.first_step_s", "s", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.stages_per_step", "count", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.shuffle_write_bytes_per_step", "bytes", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.shuffle_read_bytes_per_step", "bytes", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.executor_cpu_s_per_step", "s", "lower", moves="round_cpu_s", on=_IT),
    Metric("pagerank.gc_s_per_step", "s", "lower", moves="round_cpu_s", on=_IT),
    Metric("cc.supersteps", "count", "lower", on=_NONE),
    Metric("cc.step_median_s", "s", "lower", on=_NONE),
    Metric("lpa.step_median_s", "s", "lower", on=_NONE),
    # durable checkpoint path of the same driver
    Metric("ckpt.step_median_s", "s", "lower", on=_NONE),
    Metric("ckpt.state_bytes_per_step", "bytes", "lower", on=_NONE),
    Metric("resume.first_step_s", "s", "lower", on=_NONE),
    Metric("resume.supersteps_run", "count", "lower", on=_NONE),
    # triangle operator, Python boundary, kernels
    Metric("triangles.csr_build_s", "s", "lower", moves="round_cpu_s", on=_TRI),
    Metric("triangles.csr_values", "count", "lower", moves="round_cpu_s", on=_TRI),
    Metric("triangles.stream_s", "s", "lower", moves="round_cpu_s", on=_TRI),
    Metric("triangles.python_start_s", "s", "lower", moves="round_cpu_s", on=_TRI),
    Metric("triangles.python_run_s", "s", "lower", moves="round_cpu_s", on=_TRI),
    Metric("triangles.arrow_bytes_to_python", "bytes", "lower", moves="round_cpu_s", on=_TRI),
    Metric("triangles.join_shuffle_bytes", "bytes", "lower", moves="round_cpu_s", on=_TRI),
    Metric("kernels.intersect_s", "s", "lower", moves="round_cpu_s", on=_TRI),
    Metric("kernels.merge_ops", "count", "lower", moves="round_cpu_s", on=_TRI),
    Metric("kernels.ops_per_s", "1/s", "higher", moves="round_cpu_s", on=_TRI),
    # whole-engine counters over the workload's own traced calls, and the host
    Metric("spark.gc_s", "s", "lower", moves="peak_rss_mb", on=_ALL),
    Metric("spark.executor_cpu_s", "s", "lower", moves="round_cpu_s", on=_ALL),
    Metric("spark.shuffle_write_bytes", "bytes", "lower", moves="round_cpu_s", on=_ALL),
    Metric("host.steal_pct", "%", "lower", moves="round_cpu_s", on=_ALL),
    Metric("trace.overhead_pct", "%", "lower", moves="round_cpu_s", on=_ALL),
]

BY_NAME = {m.name: m for m in END_TO_END + PER_LAYER}


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document (exact key set of the contract)."""
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
