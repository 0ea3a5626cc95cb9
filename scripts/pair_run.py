"""Focused N→4N pair measurement with steal accounting.

Runs ONLY the two levels of one 4× scaling pair (PageRank suite,
PR-only, medians-of-K fresh processes per level, same cached input as
bench.py) and prints one JSON line with the pair efficiency plus the
hypervisor steal share of every sample. Exists because full-bench runs
take ~60 min on the big graph, during which the oversubscribed host's
steal bursts usually contaminate at least one phase — a 15-minute
focused pair run is far likelier to land inside a quiet window, and
when it doesn't, the recorded per-sample steal says so.

Since round 4 every pair reports TWO estimators from the same samples
(BASELINE.md protocol): ``scaling_efficiency`` from per-level MEDIAN
superstep throughput (sustained), and ``scaling_efficiency_minwall``
from each level's fastest single superstep across all repeats
(uncontended capability). ``pass_dual`` is true only when both clear
0.8 in the same run — a steal burst can depress one level's median,
but it cannot manufacture a fast superstep at the other level.

Usage: python scripts/pair_run.py [lo] [hi] [repeats] [n_files]
       (defaults: 2 8 3 2000000)
Writes BENCH/pair_<lo>_<hi>_latest.json with full samples. The BENCH
dir is anchored to the repo root (bench.__file__), not the CWD.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def child(args: list[str], timeout: int = 5400) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(bench.__file__), *args],
        capture_output=True, text=True, timeout=timeout,
    )
    if out.returncode != 0:
        raise RuntimeError(f"child {args} failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_files = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000_000
    if hi != 4 * lo:
        raise SystemExit("pair must be N and 4N")
    metric = "pagerank_edges_per_sec_iter"
    step_key = "pagerank_median_step_sec"
    walls_key = "pagerank_step_walls"

    t0 = time.time()
    b = child(["--build", str(n_files)])
    path = b["path"]

    levels = {}
    for cores in (hi, lo):
        # incremental progress per repeat (a big-graph pair runs ~2 h
        # at 8M files; a crash or child timeout must not lose the
        # already-measured samples)
        runs = []
        for rep in range(repeats):
            r = child(["--suite", str(cores), path, "0"])
            runs.append(r)
            print(json.dumps({
                "level": f"local{cores}", "rep": rep,
                "edges_per_sec_iter": round(r[metric], 1),
                "min_step_sec": round(min(r[walls_key]), 3),
                "steal_pct": r.get("steal_pct"),
            }), flush=True)
        med = bench.pick_median(runs, metric)
        min_walls = [round(min(r[walls_key]), 3) for r in runs]
        edge_rows = med["edge_rows"]
        levels[cores] = {
            "median_edges_per_sec_iter": round(med[metric], 1),
            "minwall_edges_per_sec_iter": round(edge_rows / min(min_walls), 1),
            "samples_edges_per_sec_iter": [round(r[metric], 1) for r in runs],
            "steal_pcts": [r.get("steal_pct") for r in runs],
            "median_step_walls": [round(r[step_key], 3) for r in runs],
            "min_step_walls": min_walls,
        }

    eff = round(
        (levels[hi]["median_edges_per_sec_iter"] / levels[lo]["median_edges_per_sec_iter"])
        / (hi / lo),
        3,
    )
    eff_minwall = round(
        (levels[hi]["minwall_edges_per_sec_iter"] / levels[lo]["minwall_edges_per_sec_iter"])
        / (hi / lo),
        3,
    )
    out = {
        "pair": f"local{lo}_to_local{hi}",
        "scaling_efficiency": eff,
        "scaling_efficiency_minwall": eff_minwall,
        "pass_dual": bool(eff >= 0.8 and eff_minwall >= 0.8),
        "repeats": repeats,
        "n_files": n_files,
        "levels": {f"local{c}": levels[c] for c in levels},
        "max_steal_pct": max(
            (s for d in levels.values() for s in d["steal_pcts"] if s is not None),
            default=None,
        ),
        "wall_sec": round(time.time() - t0, 1),
    }
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    size_tag = "" if n_files == 2_000_000 else f"_n{n_files}"
    with open(
        os.path.join(bench_dir, f"pair_{lo}_{hi}{size_tag}_latest.json"), "w"
    ) as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
