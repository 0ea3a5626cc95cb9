"""Big-graph scaling demonstration (VERDICT r2 item 3): run the same
PageRank job on a ~100M+ edge-row graph at local[2]/local[8]/local[32],
medians-of-3 fresh processes per level, and report every 4x pair's
efficiency. The two-size decomposition (BENCH/DECOMPOSITION.md) fits
median_step_wall ~= F + c*E/N with F ~= 0.9 s fixed; at ~3x the edge
rows F/T8 shrinks ~3x, so the model predicts the low-contention 2->8
pair rises toward its asymptote (>=0.95 at the 10^9-edge north-star
scale). The 8->32 pair is reported for transparency; on ONE box it
measures DRAM-bus saturation, which more edges cannot fix (a real 4N-
executor cluster adds 4N memory channels).

Usage: python scripts/bigscale_run.py [n_files] [repeats]
Writes BENCH/bigscale_<n_files>.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

LEVELS = (2, 8, 32)


def child(args: list[str], timeout: int = 3600) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(bench.__file__), *args],
        capture_output=True, text=True, timeout=timeout,
    )
    if out.returncode != 0:
        raise RuntimeError(f"child {args} failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    t0 = time.time()
    b = child(["--build", str(n_files)])
    path, etl = b["path"], b["etl_sec"]
    print(json.dumps({"built": path, "etl_sec": round(etl, 1)}), flush=True)

    per_level: dict[int, dict] = {}
    samples: dict[int, list[float]] = {}
    edge_rows = None
    for cores in LEVELS:
        runs = []
        for rep in range(repeats):
            s = child(["--suite", str(cores), path, "0"])
            runs.append(s)
            edge_rows = s["edge_rows"]
            print(json.dumps({
                "cores": cores, "rep": rep,
                "median_step_sec": s["pagerank_median_step_sec"],
                "edges_per_sec_iter": round(s["pagerank_edges_per_sec_iter"], 1),
            }), flush=True)
        tputs = sorted(r["pagerank_edges_per_sec_iter"] for r in runs)
        med = tputs[len(tputs) // 2]
        per_level[cores] = {
            "median_edges_per_sec_iter": round(med, 1),
            "median_step_sec": round(
                statistics.median(r["pagerank_median_step_sec"] for r in runs), 3
            ),
            "samples": [round(t, 1) for t in tputs],
        }
        samples[cores] = tputs

    def eff(lo: int, hi: int) -> float:
        return round(
            (per_level[hi]["median_edges_per_sec_iter"]
             / per_level[lo]["median_edges_per_sec_iter"]) / (hi / lo), 3
        )

    out = {
        "n_files": n_files,
        "edge_rows": edge_rows,
        "repeats": repeats,
        "levels": {f"local{c}": per_level[c] for c in LEVELS},
        "scaling_efficiency_2_to_8": eff(2, 8),
        "scaling_efficiency_8_to_32": eff(8, 32),
        "etl_sec": round(etl, 1),
        "total_sec": round(time.time() - t0, 1),
    }
    bench_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH"
    )
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, f"bigscale_{n_files}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
