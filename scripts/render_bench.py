"""Render BENCH/BASELINE.md from one or more bench.py JSON lines.

Usage: python scripts/render_bench.py out1.json [out2.json ...]
(first file = primary run; extra files shown as repeat samples)

Documents the north-rule scaling evidence: the same job on identical
input at several parallelism levels (the in-sandbox proxy for N vs 4N
executors), with throughput and scaling efficiency for every N→4N
pair, plus cross-run noise.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BENCH_DIR is anchored to the repo root: running from any CWD must
# read/write the same BENCH/ the bench harness uses
from bench import BENCH_DIR, STEAL_CLEAN_PCT  # noqa: E402

LEVELS = [2, 8, 32]


def load(p):
    """Accepts either a one-line bench.py stdout capture or the full
    BENCH/bench_full_latest.json detail file (which carries
    repeat_spread/conf/suite_raw that the compact printed line omits)."""
    with open(p) as f:
        raw = f.read()
    try:
        return json.loads(raw)
    except json.JSONDecodeError:
        return json.loads(raw.strip().splitlines()[-1])


def criterion_line(b: dict) -> str:
    """The report's scaling-criterion sentence. A recorded-basis verdict
    says only that the in-run pair did not dual-pass; host contention is
    named only when a level of the in-run pair recorded more than
    ``STEAL_CLEAN_PCT`` hypervisor steal."""
    crit = b["scaling_criterion"]
    if crit.get("met") and crit.get("basis") == "in_run":
        return (
            f"**Criterion verdict: MET (in-run).** This run's own "
            f"{crit.get('pair')} pair dual-passed "
            f"({crit.get('eff')}/{crit.get('eff_minwall')})."
        )
    if not crit.get("met"):
        return (
            "**Criterion verdict: NOT MET in this artifact** — no "
            "dual-passing pair in-run or recorded."
        )
    steal = b.get("host_steal_pct") or {}
    pair = b["throughput"].get("scaling_headline_pair") or ""
    hot = [
        f"{lvl} {steal[lvl]}%" for lvl in pair.split("_to_")
        if (steal.get(lvl) or 0.0) > STEAL_CLEAN_PCT
    ]
    return (
        "**Criterion verdict: MET (recorded pair).** The in-run pair did "
        "not dual-pass"
        + (f"; its levels recorded host contention ({', '.join(hot)} steal)" if hot else "")
        + f". The verdict rests on the recorded pair {crit.get('pair')} at "
        f"{crit.get('n_files'):,} files: {crit.get('eff')}/"
        f"{crit.get('eff_minwall')} dual pass (`{crit.get('src')}`, "
        f"{'dated ' + crit['date'] if crit.get('date') else 'undated'}, "
        "per-sample steal inside)."
    )


def main():
    runs = [load(p) for p in (sys.argv[1:] or ["/dev/stdin"])]
    b = runs[0]
    t = b["throughput"]
    g = b["graph"]
    q = b["queries"]

    def pr(run, c):
        return run["throughput"].get(f"pagerank_edges_per_sec_iter_local{c}")

    lines = [
        "# BENCH/BASELINE — measured throughput & scaling evidence",
        "",
        f"Input: deterministic corpus-derived link graph, seed=42, "
        f"{b['bench_files']:,} synthetic files → {g['edge_rows']:,} directed "
        f"edge rows (symmetrized), {g['triangles']:,} triangles. "
        "Identical cached parquet input for every parallelism level; each "
        "level runs in its own pristine process (the orchestrating parent "
        "runs no Spark).",
        "",
        "## Throughput by parallelism (PageRank shuffle-join superstep)",
        "",
        "| level | edges/sec/iter (median superstep) |",
        "|---|---|",
    ]
    for c in LEVELS:
        v = pr(b, c)
        if v:
            extra = ""
            others = [pr(r, c) for r in runs[1:] if pr(r, c)]
            if others:
                extra = " (repeat: " + ", ".join(f"{o:,.0f}" for o in others) + ")"
            lines.append(f"| local[{c}] | {v:,.0f}{extra} |")
    lines += [
        "",
        (
            "| Triangle counting (best of join/csr) | "
            f"local[8]: {t.get('triangles_per_sec_local8', 0):,.0f}/s, "
            f"local[32]: {t.get('triangles_per_sec_local32', 0):,.0f}/s |"
        ),
        (
            "| Triangle wall @32 | "
            f"join {q.get('triangles_local32', '—')}s, "
            f"csr {q.get('triangles_csr_local32', '—')}s |"
        ),
        "",
        "## N → 4N scaling efficiency (north-rule criterion, sandbox proxy)",
        "",
        "| pair | this run | repeat runs |",
        "|---|---|---|",
    ]
    for key, label in [
        ("scaling_efficiency_pagerank_2_to_8", "PageRank local[2] → local[8] (median)"),
        ("scaling_efficiency_pagerank_2_to_8_minwall", "PageRank local[2] → local[8] (min-wall)"),
        ("scaling_efficiency_pagerank_8_to_32", "PageRank local[8] → local[32] (median)"),
        ("scaling_efficiency_pagerank_8_to_32_minwall", "PageRank local[8] → local[32] (min-wall)"),
        ("scaling_efficiency_triangles_join_8_to_32", "Triangles (join plan) local[8] → local[32]"),
        ("scaling_efficiency_triangles_csr_8_to_32", "Triangles (csr plan) local[8] → local[32]"),
    ]:
        others = ", ".join(
            f"{r['throughput'][key]:.3f}" for r in runs[1:] if key in r["throughput"]
        )
        if key in t:
            lines.append(f"| {label} | **{t[key]:.3f}** | {others or '—'} |")
    spread = b.get("repeat_spread") or t.get("repeat_spread") or {}
    if spread:
        lines += [
            "",
            "Within-run repeat samples (fresh process each, PageRank "
            "edges/sec/iter). The level median is the lower middle of the "
            "samples at ≤5% hypervisor steal when two or more exist, else "
            "of all; a high-steal sample under-reports real throughput:",
            "",
            "| level | samples | rel. spread | steal% per sample |",
            "|---|---|---|---|",
        ]
        for lvl, d in sorted(spread.items(), key=lambda kv: int(kv[0][5:])):
            samples = ", ".join(f"{v:,.0f}" for v in d["samples_edges_per_sec_iter"])
            steals = ", ".join(
                f"{v}" for v in d.get("steal_pcts", []) if v is not None
            )
            lines.append(
                f"| {lvl} | {samples} | {d['rel_spread']:.1%} | {steals or '—'} |"
            )
    noise = b.get("host_steal_pct") or {}
    if noise:
        lines += [
            "",
            "Median-run hypervisor steal share per phase (>5% means that "
            "phase's absolute numbers are depressed by host contention): "
            + ", ".join(f"{k} {v}%" for k, v in noise.items() if v is not None),
        ]
    pair_files = sorted(
        glob.glob(os.path.join(BENCH_DIR, "pair_*_latest.json"))
        + glob.glob(os.path.join(BENCH_DIR, "pair_*_attempt*.json"))
    )
    if pair_files:
        lines += [
            "",
            "Focused pair runs (`scripts/pair_run.py` — one 4× pair, "
            "PR-only, medians-of-K fresh processes, ~15 min instead of a "
            "~60-min full bench, so far likelier to land inside a quiet "
            "hypervisor window; per-sample steal recorded). `min-wall "
            "eff` = efficiency from each level's fastest single "
            "superstep across all repeats (uncontended capability); "
            "`dual` = both estimators ≥0.8 in the same run:",
            "",
            "| pair | median eff | min-wall eff | dual | "
            "samples lo (steal%) | samples hi (steal%) | max steal |",
            "|---|---|---|---|---|---|---|",
        ]
        seen_payloads = set()
        for pf in pair_files:
            with open(pf) as fh:
                p = json.load(fh)
            # a *_latest.json is often a byte-identical alias of a dated
            # attempt artifact — render each distinct run once
            key = json.dumps(p, sort_keys=True)
            if key in seen_payloads:
                continue
            seen_payloads.add(key)
            lvls = sorted(p["levels"].items(), key=lambda kv: int(kv[0][5:]))

            def fmt(d):
                return ", ".join(
                    f"{v/1e6:.2f}M ({s}%)"
                    for v, s in zip(
                        d["samples_edges_per_sec_iter"], d["steal_pcts"]
                    )
                )

            # as recorded: pre-round-4 files carry no min-wall estimator
            mw = p.get("scaling_efficiency_minwall")
            label = p["pair"] + (
                f" ({p['strategy']})" if p.get("strategy", "shuffle") != "shuffle" else ""
            )
            if p.get("n_files") not in (None, 2_000_000):
                label += f" n={p['n_files']:,}"
            lines.append(
                f"| {label} | **{p['scaling_efficiency']}** "
                f"| {mw if mw is not None else '—'} "
                f"| {'PASS' if p.get('pass_dual') else '—'} "
                f"| {fmt(lvls[0][1])} | {fmt(lvls[1][1])} "
                f"| {p.get('max_steal_pct')}% |"
            )
    headline_pair = t.get("scaling_headline_pair", "—")
    headline_eff = t.get("scaling_efficiency_headline")
    headline_mw = t.get("scaling_efficiency_headline_minwall")
    dual = t.get("scaling_pass_dual")
    lines += [
        "",
        (
            f"**North-rule evidence.** Headline 4× pair: **{headline_pair}"
            f" = {headline_eff}** (median estimator)"
            + (f", **{headline_mw}** (min-wall estimator)" if headline_mw is not None else "")
            + (f"; dual-estimator pass: **{'yes' if dual else 'no'}**" if dual is not None else "")
            if headline_eff is not None
            else ""
        )
        + " — same job, same cached input, two levels 4× apart, each "
        "scored on its MEDIAN superstep wall (sustained) and its MIN "
        "superstep wall (uncontended capability); the criterion counts "
        "as met only when BOTH clear 0.8 in the same run.",
        "",
    ]
    if b.get("scaling_criterion"):
        lines += [criterion_line(b), ""]
    lines += [
        "How to read these numbers — why one box is a harsher proxy than "
        "N vs 4N executors, the measured 8→32 bandwidth ceiling, and the "
        "harness tuning — is recorded once, in [the 2026-10-17 entry of "
        "MEASUREMENT_HISTORY.md](MEASUREMENT_HISTORY.md#reading-the-bench-"
        "report-2026-10-17); BENCH/DECOMPOSITION.md carries the measured "
        "per-superstep decomposition.",
        "",
        "## Headline metric",
        "",
        f"- **{b['metric']}**: {b['value']:,.0f} "
        "(peak across parallelism levels on this box; "
        "see breakdown above)",
        f"- PageRank {b['pr_iters']} iterations wall: "
        f"{q.get('pagerank_5iter_local32')}s @32, "
        f"{q.get('pagerank_5iter_local8')}s @8, "
        f"{q.get('pagerank_5iter_local2')}s @2",
        f"- Triangle count wall: {q.get('triangles_local32')}s @32",
        "",
        "## Driver-testdata queries (sf=%s, local[32], seconds — min of "
        "≥2 in-run samples per query, each sample's steal window in "
        "bench_full_latest.json query_detail; %d run artifact%s)"
        % (b["sf"], len(runs), "s" if len(runs) != 1 else ""),
        "",
        "| query | sec |",
        "|---|---|",
    ]
    for name in (
        "triangle_count_join", "triangle_count_csr", "clique4_count",
        "pagerank", "connected_components", "similar_nodes",
        "minhash_lsh_pairs", "minhash_direct_pairs", "simhash_near_pairs",
        "ann_topk_matmul", "dedup_exact",
    ):
        vals = [r["queries"][name] for r in runs if name in r["queries"]]
        if vals:
            lines.append(f"| {name} | {min(vals)} |")
    conf = b.get("conf")
    lines += [
        "",
        "## Spark configuration (recorded per BASELINE.md protocol)",
        "",
        "```json",
        json.dumps(conf, indent=2) if conf else "(see BENCH/bench_full_latest.json)",
        "```",
        "",
        f"Total bench wall: {b['total_bench_sec']}s (graph ETL "
        f"{b['etl_sec']}s, cached across levels). Reproduce with "
        "`python bench.py` (env `SPARK_GRAFT_SF_DIR`, "
        "`SPARK_GRAFT_BENCH_FILES`).",
    ]
    os.makedirs(BENCH_DIR, exist_ok=True)
    out_path = os.path.join(BENCH_DIR, "BASELINE.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
