"""Focused N→4N pair measurement with steal accounting.

Runs ONLY the two levels of one 4× scaling pair (the PageRank suite
without triangles, same cached input as bench.py) and prints one JSON
line with the pair efficiency plus the hypervisor steal share of every
sample.
Exists because full-bench runs take ~60 min on the big graph, during
which the oversubscribed host's steal bursts usually contaminate at
least one phase — a 15-minute focused pair run is far likelier to land
inside a quiet window, and when it doesn't, the recorded per-sample
steal says so.

Each level and the pair are scored by ``bench.measure_level`` and
``bench.pair_scores`` — the functions the full bench scores its in-run
pairs with (clean-pool median, steal top-up, min-wall over all
repeats, dual-estimator pass) — so ``bench.criterion_verdict`` can
stand a recorded pair in for an in-run one.

Usage: python scripts/pair_run.py [lo] [hi] [repeats] [n_files]
       (defaults: 2 8 3 2000000)
Writes BENCH/pair_<lo>_<hi>_latest.json (``_n<n_files>`` before
``_latest`` off the default size) with full samples and the ISO date.
Per-repeat progress goes to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main():
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_files = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000_000
    if hi != 4 * lo:
        raise SystemExit("pair must be N and 4N")

    t0 = time.time()
    path = bench.run_child(["--build", str(n_files)])["path"]
    meds, levels = {}, {}
    for cores in (hi, lo):
        meds[cores], detail = bench.measure_level(cores, path, repeats)
        levels[f"local{cores}"] = {
            "median_edges_per_sec_iter": round(meds[cores][bench.MEDIAN_KEY], 1),
            "minwall_edges_per_sec_iter": round(meds[cores][bench.MINWALL_KEY], 1),
            **detail,
        }
    eff, eff_minwall, pass_dual = bench.pair_scores(meds, lo, hi)
    out = {
        "pair": f"local{lo}_to_local{hi}",
        "scaling_efficiency": eff,
        "scaling_efficiency_minwall": eff_minwall,
        "pass_dual": pass_dual,
        "repeats": repeats,
        "n_files": n_files,
        "date": time.strftime("%Y-%m-%d", time.gmtime()),
        "levels": levels,
        "max_steal_pct": max(
            (s for d in levels.values() for s in d["steal_pcts"] if s is not None),
            default=None,
        ),
        "wall_sec": round(time.time() - t0, 1),
    }
    os.makedirs(bench.BENCH_DIR, exist_ok=True)
    size_tag = "" if n_files == 2_000_000 else f"_n{n_files}"
    with open(
        os.path.join(bench.BENCH_DIR, f"pair_{lo}_{hi}{size_tag}_latest.json"), "w"
    ) as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
