"""Fixed-overhead decomposition of the PageRank superstep at two graph
sizes × several parallelism levels (BENCH/BASELINE.md §reading
evidence): fit  median_step_wall(N, E) ≈ F + c·E/N  and report the
fitted F (fixed, N-independent overhead) and c (per-edge work), plus
what the model predicts efficiency would be with F removed.

Usage: python scripts/scaling_decomposition.py [n_files_small] [n_files_big]
Each (size, level) suite runs in a pristine subprocess via bench.py's
--suite entrypoint, reusing its cached graphs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def run_suite(cores: int, path: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(bench.__file__), "--suite",
         str(cores), path, "0"],
        capture_output=True, text=True, timeout=1800,
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    big = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    levels = [2, 8, 32]

    paths = {}
    for n in (small, big):
        out = subprocess.run(
            [sys.executable, os.path.abspath(bench.__file__), "--build", str(n)],
            capture_output=True, text=True, timeout=1800,
        )
        paths[n] = json.loads(out.stdout.strip().splitlines()[-1])["path"]

    rows = []  # (E, N, median_step)
    for n, path in paths.items():
        for c in levels:
            s = run_suite(c, path)
            rows.append((s["edge_rows"], c, s["pagerank_median_step_sec"]))
            print(json.dumps({"n_files": n, "cores": c, **{k: s[k] for k in
                  ("edge_rows", "pagerank_median_step_sec",
                   "pagerank_edges_per_sec_iter")}}))

    # least-squares fit wall = F + c*(E/N)
    import numpy as np

    x = np.array([e / n for (e, n, _) in rows])
    y = np.array([w for (_, _, w) in rows])
    A = np.vstack([np.ones_like(x), x]).T
    (F, c), *_ = np.linalg.lstsq(A, y, rcond=None)
    resid = y - (F + c * x)
    print(json.dumps({
        "fit": {"F_fixed_sec": round(float(F), 3),
                "c_sec_per_edge_per_core": float(c),
                "max_abs_resid_sec": round(float(np.max(np.abs(resid))), 3)},
        "model_eff_2_to_8_at_big": round(
            (F + c * rows[-2][0] / 2) / (4 * (F + c * rows[-2][0] / 8)), 3)
        if rows else None,
    }))


if __name__ == "__main__":
    main()
