"""The metric table is well-formed and ``BENCHMARK.json`` is rendered
from it."""

from __future__ import annotations

import json
import os

from perfbench import metrics as M
from perfbench.run import CALL_METRICS
from perfbench.workloads import ROUNDS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_names_and_units_follow_the_naming_rules():
    names = [m.name for m in M.END_TO_END + M.PER_LAYER]
    assert len(names) == len(set(names))
    for m in M.END_TO_END + M.PER_LAYER:
        assert M.NAME_RE.match(m.name), m.name
        assert M.UNIT_RE.match(m.unit), m.unit
        assert m.better in ("higher", "lower")
    for name in list(M.WORKLOADS):
        assert M.NAME_RE.match(name)


def test_end_to_end_bounds_and_setup_metric():
    assert 1 <= len(M.END_TO_END) <= 16
    for m in M.END_TO_END:
        assert m.bound is not None and 0 < m.bound <= 0.25
    setup = M.BY_NAME["setup_s"]
    assert (setup.unit, setup.better) == ("s", "lower")
    assert setup.bound == max(m.bound for m in M.END_TO_END)


def test_every_layer_metric_names_what_it_moves():
    e2e = {m.name for m in M.END_TO_END}
    for m in M.PER_LAYER:
        assert m.on in set(M.WORKLOADS) | {"all", "none"}, m.name
        # a layer no gated workload runs moves no end-to-end metric
        assert (m.moves in e2e) == (m.on != "none"), m.name


def test_workloads_have_one_line_reasons_and_rounds():
    assert 2 <= len(M.WORKLOADS) <= 8
    assert set(M.WORKLOADS) == set(ROUNDS)
    for why in M.WORKLOADS.values():
        assert "\n" not in why and len(why) <= 200


def test_per_call_metrics_are_in_the_per_layer_table():
    per_layer = {m.name: m.unit for m in M.PER_LAYER}
    for name, unit in CALL_METRICS.values():
        assert per_layer[name] == unit


def test_benchmark_json_is_rendered_from_the_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        on_disk = json.load(fh)
    assert on_disk == M.benchmark_json()
    assert set(on_disk) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert len(json.dumps(on_disk)) <= 64 * 1024
