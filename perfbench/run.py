"""Link-graph benchmark: one closed-loop client against a ``local[4]``
Spark session.

    python3 perfbench/run.py --workload iterative --seed 42 --seconds 6 --trace 0

Set-up starts Spark, then builds the corpus graph from the seed
(``make_corpus`` -> ``extract_edges`` -> degree-ordered ``Graph``,
persisted) once; ``setup_s`` is the session start plus that build. The
numpy oracles are computed from the collected edges. After an
unmeasured warm-up of the workload's entry points,
rounds of its calls repeat until ``--seconds`` have passed (at least
one round); every call is checked against the oracles outside its
timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` instead
makes one traced call of every entry point, split into layers (see
:func:`perfbench.workloads.layer_sweep`), and reports the per-layer
metrics; its spans are written to ``.perfbench_out/``. Either way the
last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` and a full record (machine, configuration,
every metric with its sample count) is written to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench.stats import CpuTimes, describe, failure_ratio, median, steal_pct  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4  # one task per core: every stage runs in one wave
DRIVER_MEMORY = "1g"  # the graph is ~36k edge rows; a larger heap only slows the start
# the heap is fixed and pre-touched, so peak RSS does not depend on when
# the collector chose to grow it: it tracks the JVM's non-heap footprint
# (metaspace, code cache, threads, direct buffers) plus the Python driver.
# -UsePerfData: no /tmp/hsperfdata_* files, so nothing is written outside
# the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {NO_PERF_DATA}"
N_FILES = 2000  # corpus files; the graph has ~18 directed edge rows per file

# per-entry-point metrics, printed by name from the untraced rounds (their
# per-call medians) next to the end-to-end metrics; the traced layer
# sweep reports the same names as per-layer metrics
CALL_METRICS = {
    "pagerank": ("pagerank_edges_per_s", "edges/s"),
    "triangles_auto": ("triangles_per_s", "triangles/s"),
    "triangles_join": ("triangle_join_s", "s"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(M.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=M.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(workdir: str):
    """Session at ``local[4]`` with every path Spark writes inside
    ``workdir``; returns ``(spark, confs, seconds)``."""
    from simdgraphprocessing_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA  # the spark-submit launcher JVM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JAVA_OPTIONS}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    recorded = {"master": MASTER, "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS)}
    recorded.update({k: v.replace(workdir, "<workdir>") for k, v in confs.items()})
    return spark, recorded, start_s


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def build_graph(spark, n_files: int, seed: int, tracer):
    """One set-up build; returns ``(edges, raw_rows, edge_rows,
    extract_s, degree_order_s)`` with the raw edges already released."""
    from simdgraphprocessing_spark.corpus import extract_edges, make_corpus
    from simdgraphprocessing_spark.graph import Graph

    with tracer.span("corpus.extract"):
        t0 = time.perf_counter()
        raw = extract_edges(make_corpus(spark, n_files=n_files, seed=seed)).persist()
        raw_rows = raw.count()
        t1 = time.perf_counter()
    with tracer.span("graph.degree_order"):
        g = Graph.from_edge_list_degree_ordered(raw).persist()
        edge_rows = g.edges.count()
        t2 = time.perf_counter()
    raw.unpersist()
    return g.edges, raw_rows, edge_rows, t1 - t0, t2 - t1


def collect_edges(edges):
    import numpy as np

    tbl = edges.select("src", "dst").toArrow()
    return (
        tbl.column("src").to_numpy().astype(np.int64),
        tbl.column("dst").to_numpy().astype(np.int64),
    )


def call_metric(call, triangles: int) -> float:
    """The per-entry-point metric value of one successful call."""
    unit = CALL_METRICS[call.name][1]
    if unit == "edges/s":
        return call.edge_rows / call.wall
    return triangles / call.wall if unit == "triangles/s" else call.wall


def run(args) -> int:
    import numpy as np

    from perfbench.sparkstats import jvm_pid, machine_info, vm_hwm_mb
    from perfbench.trace import Tracer
    from perfbench.workloads import Runner, Truth, layer_sweep

    out_dir = os.path.join(ROOT, ".perfbench_out")
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(workdir, exist_ok=True)
    tracer = Tracer(enabled=bool(args.trace))
    n_files = N_FILES
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "n_files": n_files}
    spark = None
    try:
        with tracer.span("session.start"):
            spark, confs, start_s = start_spark(workdir)
        # one build: a cold build costs several warm ones, and a repeat
        # per run does not fit the run budget on a 4-core host
        edges, raw_rows, edge_rows, extract_s, order_s = build_graph(
            spark, n_files, args.seed, tracer
        )
        setup_s = start_s + extract_s + order_s

        src, dst = collect_edges(edges)
        truth = Truth.compute(src, dst)
        vertices = int(np.unique(np.concatenate((src, dst))).size)
        if vertices != truth.n:
            raise RuntimeError(f"graph ids are not dense: {vertices} vertices, max id {truth.n - 1}")
        record["machine"] = machine_info(spark, confs)
        record["graph"] = {"raw_edge_rows": raw_rows, "edge_rows": edge_rows,
                           "vertices": vertices, "triangles": truth.triangles,
                           "cc_supersteps": truth.cc_supersteps}

        runner = Runner(spark, edges, edge_rows, truth, workdir, tracer)
        # traced runs skip the warm-up: the sweep's single calls are layer
        # readings, not end-to-end samples, and a traced run must stay well
        # inside the per-run time limit on a slow host
        if not args.trace:
            runner.warm_up(args.workload)
        cpu0 = CpuTimes.read()
        if args.trace:
            tracer.trace_id = "sweep"
            layers, rounds = layer_sweep(runner, args.workload), []
        else:
            rounds, layers = measure_rounds(runner, args.workload, args.seconds), {}
        steal = steal_pct(cpu0, CpuTimes.read())
        pid = jvm_pid(spark)
        peak_rss_mb = (vm_hwm_mb(pid) if pid else 0.0) + vm_hwm_mb(os.getpid())
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    round_walls = [sum(c.wall for c in calls) for calls in rounds if all(calls)]
    round_cpus = [sum(c.cpu for c in calls) for calls in rounds if all(calls)]
    done = [c for calls in rounds for c in calls if c]
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb}
    if round_cpus:
        e2e["round_cpu_s"] = median(round_cpus)
    per_call = {
        metric: describe([call_metric(c, truth.triangles) for c in done if c.name == name])
        for name, (metric, _unit) in CALL_METRICS.items()
        if any(c.name == name for c in done)
    }
    layers.update({
        "op_failure_ratio": failure_ratio(runner.failed, runner.attempted),
        "session.start_s": start_s,
        "corpus.extract_s": extract_s,
        "corpus.raw_edge_rows": raw_rows,
        "graph.degree_order_s": order_s,
        "graph.edge_rows": edge_rows,
        "graph.vertices": vertices,
        "host.steal_pct": steal,
    })

    base = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.write(os.path.join(out_dir, f"spans-{base}.json"))
    record.update({
        "attempted": runner.attempted, "failed": runner.failed, "failures": runner.failures,
        "round_walls": round_walls, "round_cpus": round_cpus,
        "call_walls": [[c.name, c.wall] for c in done + runner.traced_calls],
        "step_walls": [[c.name, [m["wall_sec"] for m in c.result.metrics]]
                       for c in done + runner.traced_calls if hasattr(c.result, "metrics")],
        "end_to_end": e2e, "per_call": per_call, "per_layer": layers,
        "metric_table": {m.name: {"unit": m.unit, "better": m.better, "moves": m.moves, "on": m.on}
                         for m in M.PER_LAYER},
    })
    with open(os.path.join(out_dir, f"{base}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    print(f"workload={args.workload} seed={args.seed} n_files={n_files} "
          f"edge_rows={edge_rows} triangles={truth.triangles} "
          f"rounds={len(round_walls)} trace={args.trace} steal={steal:.2f}%")
    for name, d in per_call.items():
        unit = next(u for n, u in CALL_METRICS.values() if n == name)
        tail = f", p{d['p']:g}={d['p_value']:.4g}" if "p" in d else ", no percentile with 10 samples beyond it"
        print(f"{name} = {d['median']:.6g} {unit} (median of n={d['n']}{tail})")
    if round_walls:
        print(f"round wall = {median(round_walls):.6g} s (median of n={len(round_walls)} rounds; "
              f"not gated: it follows the host's CPU steal)")
    if not args.trace:
        print(f"op_failure_ratio = {layers['op_failure_ratio']:.6g} ratio "
              f"({runner.failed} failed of {runner.attempted} calls)")
    shown, values = (M.PER_LAYER, layers) if args.trace else (M.END_TO_END, e2e)
    result = {m.name: {"value": values[m.name], "unit": m.unit} for m in shown if m.name in values}
    for m in shown:
        if m.name in values:
            print(f"{m.name} = {values[m.name]:.6g} {m.unit}")
        else:
            print(f"{m.name} missing (a call it needs failed)")
    correct = runner.failed == 0 and len(result) == len(shown)
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": result}))
    return 0


def measure_rounds(runner, workload: str, seconds: float) -> list[list]:
    """Closed loop: whole rounds of the workload's calls, one call at a
    time, until ``seconds`` have passed (at least one round)."""
    rounds: list[list] = []
    deadline = time.perf_counter() + seconds
    while not rounds or time.perf_counter() < deadline:
        rounds.append(runner.round(workload))
    return rounds


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [m for m in ("pyspark", "numpy", "pyarrow") if importlib.util.find_spec(m) is None]
    engine = importlib.util.find_spec("simdgraphprocessing_spark")
    if engine is None or not (engine.origin or "").startswith(ROOT + os.sep):
        missing.append(f"simdgraphprocessing_spark (from {ROOT})")
    if missing:
        print(f"perfbench: cannot import {', '.join(missing)}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
