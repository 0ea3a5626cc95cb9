"""Spark-free contract tests for the bench harness.

Round 2's headline metric never reached the scoreboard because the
printed JSON line outgrew the driver's 2,000-char stdout tail — these
tests pin the output contract (one line, parseable, bounded) by
exercising bench.py's REAL line guard (``assemble_line``), headline
selection (``scaling_summary``), median rule (``pick_median``) and
level estimator (``measure_level``, shared with scripts/pair_run.py),
plus the steal-share instrumentation and the report's criterion
wording, without starting a JVM.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def test_steal_pct_window_math():
    # (total, idle, steal) jiffies before/after: 1000 jiffies elapsed,
    # 150 stolen, 400 idle
    before = (10_000, 4_000, 300)
    after = (11_000, 4_400, 450)
    out = bench._steal_pct(before, after)
    assert out == {"steal_pct": 15.0, "idle_pct": 40.0}


def test_steal_pct_zero_window_guard():
    s = (10_000, 4_000, 300)
    out = bench._steal_pct(s, s)  # degenerate: no time elapsed
    assert out["steal_pct"] == 0.0


def test_read_cpu_stat_shape():
    total, idle, steal = bench._read_cpu_stat()
    assert total > 0 and 0 <= idle <= total and 0 <= steal <= total


def _pessimistic_out() -> dict:
    """Every optional field populated with worst-case widths."""
    queries = {f"pagerank_5iter_local{c}": 12345.678 for c in (32, 8, 2)}
    queries.update({f"triangles_local{c}": 1234.567 for c in (32, 8)})
    queries.update({f"triangles_csr_local{c}": 1234.567 for c in (32, 8)})
    queries.update(
        {
            name: 123.456
            for name in (
                "triangle_count_join", "triangle_count_csr", "clique4_count",
                "pagerank", "connected_components", "similar_nodes",
                "minhash_lsh_pairs", "minhash_direct_pairs",
                "simhash_near_pairs", "ann_topk_matmul", "dedup_exact",
            )
        }
    )
    throughput = {
        **{f"pagerank_edges_per_sec_iter_local{c}": 12345678.9 for c in (32, 8, 2)},
        **{f"pagerank_edges_per_sec_iter_min_local{c}": 12345678.9 for c in (32, 8, 2)},
        **{f"triangles_per_sec_local{c}": 123456.7 for c in (32, 8)},
        "scaling_efficiency_pagerank_2_to_8": 0.888,
        "scaling_efficiency_pagerank_2_to_8_minwall": 0.888,
        "scaling_efficiency_pagerank_8_to_32": 0.888,
        "scaling_efficiency_pagerank_8_to_32_minwall": 0.888,
        "scaling_efficiency_triangles_join_8_to_32": 0.888,
        "scaling_efficiency_triangles_csr_8_to_32": 0.888,
    }
    throughput.update(bench.scaling_summary(throughput))
    return {
        "metric": "pagerank_edges_per_sec_per_iteration",
        "value": 12345678.9,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "graph": {"edge_rows": 38_269_442, "n_files": 2_000_000, "triangles": 297_934},
        "throughput": throughput,
        "host_steal_pct": {
            **{f"local{c}": 12.34 for c in (32, 8, 2)},
            "queries": 12.34,
        },
        "total_bench_sec": 3987.5,
        "bench_files": 2_000_000,
        "pr_iters": 5,
        "etl_sec": 344.62,
        "partial": True,
        "truncated": ["local2_reps_2_of_3"],
        "recorded_pairs": [
            {
                "pair": "local2_to_local8",
                "n_files": 8_000_000,
                "eff": 0.888,
                "eff_minwall": 0.888,
                "pass_dual": True,
                "src": "BENCH/pair_2_8_n8000000_latest.json",
                "date": "2026-10-17",
            },
            {
                "pair": "local8_to_local32",
                "n_files": 8_000_000,
                "eff": 0.888,
                "eff_minwall": 0.888,
                "pass_dual": False,
                "src": "BENCH/pair_8_32_n8000000_latest.json",
                "date": "2026-10-17",
            },
        ],
    }


def test_compact_line_stays_under_driver_tail_buffer():
    """The driver machine-reads only the LAST ~2,000 chars of bench
    stdout; bench.assemble_line (the REAL guard emit() prints through)
    must keep the fully-populated line under 1,700 chars."""
    line = bench.assemble_line(_pessimistic_out())
    assert len(line) <= bench.LINE_LIMIT, f"compact line is {len(line)} chars"
    parsed = json.loads(line)
    assert parsed["throughput"]["scaling_efficiency_headline"] == 0.888
    assert parsed["throughput"]["scaling_efficiency_headline_minwall"] == 0.888
    assert parsed["throughput"]["scaling_pass_dual"] is True


def test_assemble_line_degrades_in_order():
    """Oversized payload: first the graph dict is dropped, then the
    per-level triangle query entries — never an unparseable or
    over-limit line, and the headline keys always survive."""
    out = _pessimistic_out()
    # inflate: a tiny limit forces both fallbacks
    line = bench.assemble_line(out, limit=900)
    parsed = json.loads(line)
    assert "graph" not in parsed
    assert not any(
        k.startswith(("triangles_local", "triangles_csr_local"))
        for k in parsed["queries"]
    )
    assert "scaling_efficiency_headline" in parsed["throughput"]
    # driver queries survive the degradation
    assert "triangle_count_csr" in parsed["queries"]
    # original dict not mutated (emit() reuses it for the detail file)
    assert "graph" in out and "triangles_local32" in out["queries"]
    # recorded big-graph pair evidence is trimmed to 1 entry, not lost
    assert len(parsed["recorded_pairs"]) == 1
    assert parsed["recorded_pairs"][0]["pair"] == "local2_to_local8"
    assert len(out["recorded_pairs"]) == 2


def _write_pair(d: Path, name: str, **over) -> None:
    body = {
        "pair": "local2_to_local8",
        "strategy": "shuffle",
        "scaling_efficiency": 0.93,
        "scaling_efficiency_minwall": 0.95,
        "pass_dual": True,
        "repeats": 3,
        "n_files": 8_000_000,
        "max_steal_pct": 0.5,
        **over,
    }
    (d / name).write_text(json.dumps(body))


def test_recorded_pair_summaries_filters_and_labels(tmp_path):
    """Shuffle-strategy pair artifacts are surfaced UNLESS the current
    run measures the same pair at the same input size fresh (the live
    reading must never be masked by a cached one); each entry carries
    its source file so a recorded reading can never be mistaken for
    this run's measurement."""
    _write_pair(tmp_path, "pair_2_8_n8000000_latest.json")
    # same-size run-measured pair (the current run measures 2->8 at
    # 2M fresh): excluded
    _write_pair(tmp_path, "pair_2_8_latest.json", n_files=2_000_000)
    # same-size pair the run does NOT measure (1->4): surfaced
    _write_pair(tmp_path, "pair_1_4_latest.json", n_files=2_000_000,
                pair="local1_to_local4", scaling_efficiency=0.9)
    # gather strategy: informational only, never surfaced
    _write_pair(
        tmp_path, "pair_8_32_gather_n8000000_latest.json", strategy="gather"
    )
    # corrupt file: skipped, not fatal
    (tmp_path / "pair_9_36_latest.json").write_text("{not json")
    rows = bench.recorded_pair_summaries(str(tmp_path), 2_000_000)
    assert len(rows) == 2
    assert {r["src"] for r in rows} == {
        "BENCH/pair_2_8_n8000000_latest.json", "BENCH/pair_1_4_latest.json"
    }
    r = [x for x in rows if x["n_files"] == 8_000_000][0]
    assert r["pass_dual"] is True and r["eff"] == 0.93
    assert r["eff_minwall"] == 0.95


def test_recorded_pair_summaries_orders_and_caps(tmp_path):
    _write_pair(tmp_path, "pair_2_8_n4000000_latest.json",
                n_files=4_000_000, pass_dual=False, scaling_efficiency=0.7)
    _write_pair(tmp_path, "pair_2_8_n8000000_latest.json")
    _write_pair(tmp_path, "pair_8_32_n8000000_latest.json",
                pair="local8_to_local32", pass_dual=False)
    _write_pair(tmp_path, "pair_2_8_n16000000_latest.json",
                n_files=16_000_000, pass_dual=False)
    rows = bench.recorded_pair_summaries(str(tmp_path), 2_000_000)
    # dual-pass entries lead, then larger inputs; capped at 3
    assert len(rows) == 3
    assert rows[0]["pass_dual"] is True
    assert rows[1]["n_files"] == 16_000_000
    # at 20M files none of these duplicate a run-measured pair either,
    # so all four are eligible; the cap still holds
    assert len(bench.recorded_pair_summaries(str(tmp_path), 20_000_000)) == 3


def test_scaling_summary_dual_estimator_gate():
    t = {
        "scaling_efficiency_pagerank_2_to_8": 0.91,
        "scaling_efficiency_pagerank_2_to_8_minwall": 0.55,
        "scaling_efficiency_pagerank_8_to_32": 0.82,
        "scaling_efficiency_pagerank_8_to_32_minwall": 0.84,
        # gather must never drive the headline, however high
        "scaling_efficiency_gather_8_to_32": 3.0,
    }
    s = bench.scaling_summary(t)
    # 8→32 wins: its WORSE estimator (0.82) beats 2→8's worse (0.55)
    assert s["scaling_headline_pair"] == "local8_to_local32"
    assert s["scaling_efficiency_headline"] == 0.82
    assert s["scaling_efficiency_headline_minwall"] == 0.84
    assert s["scaling_pass_dual"] is True


def test_scaling_summary_fails_on_single_lucky_estimator():
    # round 3's failure mode: median passes, min-wall disagrees
    t = {
        "scaling_efficiency_pagerank_8_to_32": 0.911,
        "scaling_efficiency_pagerank_8_to_32_minwall": 0.42,
    }
    s = bench.scaling_summary(t)
    assert s["scaling_headline_pair"] == "local8_to_local32"
    assert s["scaling_pass_dual"] is False


def test_scaling_summary_empty_and_median_only():
    assert bench.scaling_summary({}) == {}
    s = bench.scaling_summary({"scaling_efficiency_pagerank_2_to_8": 0.85})
    assert s["scaling_efficiency_headline"] == 0.85
    assert s["scaling_pass_dual"] is False  # no min-wall evidence → no pass


def test_pick_median_lower_middle_on_even_counts():
    runs = [
        {"pagerank_edges_per_sec_iter": v} for v in (9.0, 3.0, 7.0)
    ]
    assert bench.pick_median(runs)["pagerank_edges_per_sec_iter"] == 7.0
    # truncated 2-sample level: must report the SLOWER sample, not the
    # faster one dressed up as a median
    runs2 = [{"pagerank_edges_per_sec_iter": v} for v in (9.0, 3.0)]
    assert bench.pick_median(runs2)["pagerank_edges_per_sec_iter"] == 3.0


def test_median_pool_drops_contended_samples_when_two_clean_exist():
    # r5 run3's local32: two repeats contended (9.7 / 8.1 % steal), one
    # clean — with a topped-up fourth clean repeat the pool is clean-only
    runs = [
        {"pagerank_edges_per_sec_iter": 8.0e6, "steal_pct": 9.7},
        {"pagerank_edges_per_sec_iter": 9.7e6, "steal_pct": 8.12},
        {"pagerank_edges_per_sec_iter": 20.2e6, "steal_pct": 1.14},
        {"pagerank_edges_per_sec_iter": 19.1e6, "steal_pct": 0.4},
    ]
    pool = bench.median_pool(runs)
    assert [r["steal_pct"] for r in pool] == [1.14, 0.4]
    # lower-middle rule on the 2-sample clean pool → the SLOWER clean one
    assert bench.pick_median(pool)["pagerank_edges_per_sec_iter"] == 19.1e6


def test_median_pool_keeps_all_when_fewer_than_two_clean():
    # a single clean sample must not become 'the median' by itself
    runs = [
        {"pagerank_edges_per_sec_iter": 8.0e6, "steal_pct": 9.7},
        {"pagerank_edges_per_sec_iter": 9.0e6, "steal_pct": 8.0},
        {"pagerank_edges_per_sec_iter": 20.0e6, "steal_pct": 1.0},
    ]
    assert bench.median_pool(runs) == runs


def test_clean_runs_treats_missing_steal_as_clean():
    runs = [{"pagerank_edges_per_sec_iter": 1.0}, {"steal_pct": None}]
    assert bench.clean_runs(runs) == runs


def test_criterion_verdict_in_run_pass_wins():
    # a dual-passing in-run pair is the verdict, recorded rows ignored
    t = {
        "scaling_pass_dual": True,
        "scaling_headline_pair": "local2_to_local8",
        "scaling_efficiency_headline": 0.85,
        "scaling_efficiency_headline_minwall": 0.9,
    }
    recorded = [{"pair": "local1_to_local4", "pass_dual": True,
                 "eff": 0.99, "eff_minwall": 0.99, "n_files": 2_000_000,
                 "src": "BENCH/pair_1_4_latest.json"}]
    v = bench.criterion_verdict(t, recorded)
    assert v == {
        "met": True, "basis": "in_run", "pair": "local2_to_local8",
        "eff": 0.85, "eff_minwall": 0.9,
    }


def test_criterion_verdict_falls_back_to_recorded_dual_pass():
    # in-run pair contended → first dual-passing recorded row (rows
    # arrive pre-sorted dual-first/larger-first) answers, with src
    t = {"scaling_pass_dual": False,
         "scaling_headline_pair": "local2_to_local8",
         "scaling_efficiency_headline": 0.63}
    recorded = [
        {"pair": "local2_to_local8", "pass_dual": True, "eff": 0.981,
         "eff_minwall": 0.863, "n_files": 8_000_000,
         "src": "BENCH/pair_2_8_n8000000_latest.json"},
        {"pair": "local8_to_local32", "pass_dual": False, "eff": 0.458,
         "eff_minwall": 0.574, "n_files": 8_000_000,
         "src": "BENCH/pair_8_32_n8000000_latest.json"},
    ]
    v = bench.criterion_verdict(t, recorded)
    assert v["met"] is True and v["basis"] == "recorded"
    assert v["src"] == "BENCH/pair_2_8_n8000000_latest.json"
    assert v["eff"] == 0.981 and v["eff_minwall"] == 0.863


def test_criterion_verdict_not_met_without_any_dual_pass():
    t = {"scaling_pass_dual": False}
    recorded = [{"pair": "local8_to_local32", "pass_dual": False,
                 "eff": 0.7, "eff_minwall": 0.7, "n_files": 8_000_000,
                 "src": "BENCH/pair_8_32_n8000000_latest.json"}]
    assert bench.criterion_verdict(t, recorded) == {
        "met": False, "basis": None,
    }
    assert bench.criterion_verdict({}, []) == {"met": False, "basis": None}


def test_assemble_line_drops_recorded_pairs_last_when_criterion_present():
    """When a met criterion verdict is in the line it subsumes the
    decisive recorded pair (numbers + src), so recorded_pairs may be
    dropped entirely under extreme pressure — the verdict itself and
    the headline throughput keys always survive."""
    out = _pessimistic_out()
    out["scaling_criterion"] = {
        "met": True, "basis": "recorded", "pair": "local2_to_local8",
        "n_files": 8_000_000, "eff": 0.981, "eff_minwall": 0.863,
        "src": "BENCH/pair_2_8_n8000000_latest.json",
    }
    line = bench.assemble_line(out, limit=900)
    parsed = json.loads(line)
    assert "recorded_pairs" not in parsed
    assert parsed["scaling_criterion"]["met"] is True
    assert parsed["scaling_criterion"]["src"] == (
        "BENCH/pair_2_8_n8000000_latest.json"
    )
    assert "scaling_efficiency_headline" in parsed["throughput"]
    # original dict not mutated
    assert "recorded_pairs" in out
    # a verdict that is not met names no pair: the recorded rows are
    # the only near-miss evidence in the line, so they stay
    out["scaling_criterion"] = {"met": False, "basis": None}
    parsed = json.loads(bench.assemble_line(out, limit=900))
    assert parsed["scaling_criterion"] == {"met": False, "basis": None}
    assert [r["pair"] for r in parsed["recorded_pairs"]] == ["local2_to_local8"]


def test_recorded_pair_rows_and_verdict_carry_the_pair_date(tmp_path):
    """pair_run.py stamps an ISO date; the recorded rows and a recorded
    verdict carry it, and an undated legacy artifact reads as None."""
    _write_pair(tmp_path, "pair_2_8_n8000000_latest.json", date="2026-10-17")
    _write_pair(tmp_path, "pair_1_4_n8000000_latest.json", pair="local1_to_local4")
    rows = bench.recorded_pair_summaries(str(tmp_path), 2_000_000)
    assert {r["pair"]: r["date"] for r in rows} == {
        "local2_to_local8": "2026-10-17", "local1_to_local4": None,
    }
    for row in rows:
        v = bench.criterion_verdict({"scaling_pass_dual": False}, [row])
        assert v["basis"] == "recorded" and v["date"] == row["date"]


@pytest.mark.parametrize("steal, date", [(0.3, None), (7.5, "2026-10-17")])
def test_render_recorded_fallback_names_contention_only_on_steal(steal, date):
    """The report words a recorded-basis verdict neutrally, and blames
    the host only when a level of the in-run pair recorded >5% steal."""
    from scripts.render_bench import criterion_line

    line = criterion_line({
        "throughput": {"scaling_headline_pair": "local2_to_local8"},
        "host_steal_pct": {"local2": steal, "local8": 0.4, "local32": 9.9},
        "scaling_criterion": {
            "met": True, "basis": "recorded", "pair": "local2_to_local8",
            "n_files": 8_000_000, "eff": 0.981, "eff_minwall": 0.863,
            "src": "BENCH/pair_2_8_n8000000_latest.json", "date": date,
        },
    })
    assert "The in-run pair did not dual-pass" in line
    assert ("contention" in line) == (steal > 5)
    assert "local32" not in line  # not a level of the in-run pair
    assert (f"dated {date}" if date else "undated") in line


def _fake_child():
    """``bench.run_child`` stand-in: the graph build, the query sweep,
    and per-level suites served in call order — the same sequence for
    every caller. local[2]'s first repeat ran contended (9% steal)."""
    samples = {  # level → [(edges/s/iter, steal %)] per repeat
        2: [(5.0, 9.0), (4.0, 1.0), (6.0, 1.0)],
        8: [(18.0, 1.0), (20.0, 0.5), (22.0, 1.0)],
        32: [(60.0, 1.0), (70.0, 1.0), (80.0, 1.0)],
    }
    served: dict = {}

    def child(args: list[str]) -> dict:
        if args[0] == "--build":
            return {"path": "edges", "etl_sec": 0.0}
        if args[0] == "--queries":
            return {"queries": {}, "detail": {}, "queries_steal_pct": 0.0}
        cores = int(args[1])
        served[cores] = served.get(cores, -1) + 1
        tput, steal = samples[cores][served[cores]]
        step = 1000 / tput
        return {
            "edge_rows": 1000, "pagerank_sec": 5 * step,
            "pagerank_step_walls": [0.8 * step, step, 1.2 * step],
            "pagerank_median_step_sec": step, bench.MEDIAN_KEY: tput,
            bench.MINWALL_KEY: tput / 0.8, "steal_pct": steal,
        }

    return child


def test_pair_run_scores_levels_like_the_in_run_pair(tmp_path, monkeypatch):
    """From the same repeats, pair_run.py's level summaries and pair
    efficiencies equal the full bench's in-run ones, so
    criterion_verdict may stand one in for the other."""
    from scripts import pair_run

    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "CACHE", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FILES", "2000")
    monkeypatch.setattr(bench, "run_child", _fake_child())
    bench.main()
    full = json.loads((tmp_path / "bench_full_latest.json").read_text())
    monkeypatch.setattr(bench, "run_child", _fake_child())
    monkeypatch.setattr(sys, "argv", ["pair_run.py", "2", "8", "3", "2000"])
    pair_run.main()
    pair = json.loads((tmp_path / "pair_2_8_n2000_latest.json").read_text())

    t = full["throughput"]
    assert pair["scaling_efficiency"] == t["scaling_efficiency_pagerank_2_to_8"]
    assert pair["scaling_efficiency_minwall"] == (
        t["scaling_efficiency_pagerank_2_to_8_minwall"]
    )
    for c in (2, 8):
        level, spread = pair["levels"][f"local{c}"], full["repeat_spread"][f"local{c}"]
        assert level["median_edges_per_sec_iter"] == t[f"pagerank_edges_per_sec_iter_local{c}"]
        assert level["minwall_edges_per_sec_iter"] == (
            t[f"pagerank_edges_per_sec_iter_min_local{c}"]
        )
        assert {k: level[k] for k in spread} == spread
    # the contended 5.0 is out of local[2]'s median pool (all three
    # repeats' lower middle would be 5.0); the min-wall still takes it
    assert pair["levels"]["local2"]["median_edges_per_sec_iter"] == 4.0
    assert pair["levels"]["local2"]["minwall_edges_per_sec_iter"] == 7.5
    assert pair["scaling_efficiency"] == round((20.0 / 4.0) / 4, 3)
    assert pair["date"] == time.strftime("%Y-%m-%d", time.gmtime())
