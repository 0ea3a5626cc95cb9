"""Readings taken from outside the engine: Spark's status stores (per
job group), process peak RSS, and the machine/configuration record.

The status stores work with ``spark.ui.enabled=false``. Stage figures
come from the core ``AppStatusStore``; Python-boundary figures come
from the ``MapInArrow`` operator's SQL metrics, whose values the SQL
store keeps only as display strings (parsed by :func:`parse_metric`).
"""

from __future__ import annotations

import os
import platform
import sys
from dataclasses import dataclass, fields

_SCALE = {
    "": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """A SQL-metric display string in base units (seconds, bytes or a
    plain count). Multi-task values read ``"total (min, med, max ...)\\n
    9.0 s (194 ms, ...)"``; the total is the first figure of the last
    line. Single values read ``"472.0 B"``, ``"12 ms"`` or ``"2,901"``."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    if not head:
        raise ValueError(f"empty metric value {text!r}")
    unit = head[1] if len(head) > 1 else ""
    if unit not in _SCALE:
        raise ValueError(f"unknown metric unit in {text!r}")
    return float(head[0].replace(",", "")) * _SCALE[unit]


@dataclass
class StageTotals:
    """Completed stages of one job group, summed (skipped stages — whose
    shuffle output was reused — are not counted)."""

    stages: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _as_java(spark, scala_collection):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        scala_collection
    )


def _scala_list(spark, seq) -> list:
    return list(_as_java(spark, seq))


def stage_totals(spark, group: str) -> StageTotals:
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out, seen = StageTotals(), set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        for sid in _scala_list(spark, store.job(job_id).stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            out.stages += 1
            out.executor_cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.shuffle_read_bytes += sd.shuffleReadBytes()
    return out


PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
}


def python_boundary(spark, group: str, recent: int = 50) -> dict:
    """Summed ``MapInArrow`` metrics of the SQL executions that ran the
    group's jobs (searched among the ``recent`` newest executions)."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    sql = spark._jsparkSession.sharedState().statusStore()
    count = sql.executionsCount()
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    for ex in _scala_list(spark, sql.executionsList(max(0, count - recent), recent)):
        if not jobs & {int(j) for j in _scala_list(spark, ex.jobs().keys())}:
            continue
        values = _as_java(spark, sql.executionMetrics(ex.executionId()))
        for node in _scala_list(spark, sql.planGraph(ex.executionId()).allNodes()):
            if node.name() != "MapInArrow":
                continue
            for m in _scala_list(spark, node.metrics()):
                key = PYTHON_METRICS.get(m.name())
                text = values.get(m.accumulatorId())
                if key and text is not None:
                    out[key] += parse_metric(text)
    return out


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM this process launched."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def machine_info(spark, confs: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "java_vm": str(jvm.System.getProperty("java.vm.name")),
        "platform": platform.platform(),
        "executable": sys.executable,
        "spark_confs": dict(sorted(confs.items())),
    }
