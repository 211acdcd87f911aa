"""Readers for Spark's own status stores, used by the traced run.

Job and stage facts come from the application status store (the data behind
the Spark UI, kept even with the UI off); per-operator SQL metrics come from
the SQL status store. Both are read through the py4j gateway after the work
they describe has finished.
"""

from __future__ import annotations

import re

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
}
_FIRST = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric value, in bytes for sizes, in
    milliseconds for timings and as a plain number for sums. Multi-task
    values read 'total (min, med, max ...)' and put the total first on
    the second line."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _FIRST.match(body)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def max_job_id(spark) -> int:
    jobs = _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


def jobs_since(spark, last_job_id: int) -> list[dict]:
    """Jobs with an id above ``last_job_id``: tasks run and stage ids."""
    out = []
    for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None)):
        if j.jobId() > last_job_id:
            out.append(
                {
                    "tasks": j.numTasks() - j.numSkippedTasks(),
                    "stages": list(_seq(j.stageIds())),
                }
            )
    return out


def stage_totals(spark, stage_ids) -> dict:
    """Shuffle and spill byte totals over the given stages."""
    sc = spark.sparkContext
    store, gw = sc._jsc.sc().statusStore(), sc._gateway
    tot = {"shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for sid in set(stage_ids):
        for d in _seq(
            store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0))
        ):
            tot["shuffle_read_bytes"] += d.shuffleReadBytes()
            tot["shuffle_write_bytes"] += d.shuffleWriteBytes()
            tot["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return tot


def max_execution_id(spark) -> int:
    ex = _seq(spark._jsparkSession.sharedState().statusStore().executionsList())
    return max((e.executionId() for e in ex), default=-1)


def python_metrics_since(spark, last_execution_id: int) -> dict:
    """Rows returned by, and time spent running, Python workers, summed over
    the plan nodes that cross the Python/Arrow boundary in SQL executions
    newer than ``last_execution_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = ms = 0.0
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid <= last_execution_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            if "Python" not in node.name() and "Arrow" not in node.name() and "Pandas" not in node.name():
                continue
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if m.name() == "number of output rows":
                    rows += parse_metric(v.get())
                elif m.name() == "time to run Python workers":
                    ms += parse_metric(v.get())
    return {"python_rows": rows, "python_ms": ms}
