"""Self-contained link-graph benchmark for a small (4-core) host.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. The metric table is in
:mod:`perfbench.metrics`; nothing here imports ``bench.py`` or
``scripts/``.
"""
