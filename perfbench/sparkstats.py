"""Spark's own SQL-operator and task metrics, read over the UI REST API.

Stage records come from the package's ``session.ui_stage_snapshot``
(diffed around a traced action by ``new_stages``); this module adds the
readers that the package has no client for: SQL executions with their
plan-node metrics, and a stage's task-time quantiles. SQL executions are
read incrementally (only the ones started since the last read), so the
cost of a read does not grow with the number of runs.
"""

from __future__ import annotations

import json
import time
import urllib.request


def _num(text) -> float:
    """'1,234' -> 1234.0; SQL metric values are formatted strings."""
    return float(str(text).replace(",", ""))


def _get(spark, path: str):
    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise RuntimeError("the Spark UI must be enabled")
    url = "%s/api/v1/applications/%s%s" % (sc.uiWebUrl, sc.applicationId,
                                           path)
    with urllib.request.urlopen(url, timeout=20) as r:
        return json.load(r)


def new_stages(spark, before: dict, settle_s: float = 5.0) -> list:
    """Stage attempts completed since the ``ui_stage_snapshot`` ``before``.
    The status store publishes a stage slightly after its job returns, so
    this waits until two reads 0.1 s apart agree."""
    from pure_python_geospatial_export_spark.session import (
        ui_stage_snapshot,
    )

    deadline = time.monotonic() + settle_s
    last = None
    while True:
        time.sleep(0.1)
        after = ui_stage_snapshot(spark) or {}
        keys = sorted(k for k in after if k not in before)
        if keys == last or time.monotonic() > deadline:
            return [after[k] for k in keys]
        last = keys


class SqlReader:
    """SQL executions, with plan-node metrics, started since the last
    ``read()``."""

    def __init__(self, spark):
        self.spark = spark
        self.seen = 0

    def read(self) -> list:
        out = []
        while True:
            page = _get(self.spark,
                        "/sql?details=true&planDescription=false"
                        "&offset=%d&length=100" % self.seen)
            out.extend(page)
            self.seen += len(page)
            if len(page) < 100:
                return out


def task_skew(spark, stages: list) -> float:
    """Max / median task run time in the stage with the most tasks."""
    if not stages:
        return 0.0
    wide = max(stages, key=lambda s: s.get("numCompleteTasks", 0))
    summary = _get(spark, "/stages/%d/%d/taskSummary?quantiles=0.5,1.0"
                   % (wide["stageId"], wide["attemptId"]))
    med, top = summary["executorRunTime"]
    return top / med if med > 0 else 1.0


def stage_totals(stages: list) -> dict:
    """Engine-level sums over a set of completed stage attempts."""
    def total(key):
        return sum(float(s.get(key, 0)) for s in stages)
    return {
        "shuffle_write_mb": total("shuffleWriteBytes") / 1e6,
        "spill_mb": (total("memoryBytesSpilled")
                     + total("diskBytesSpilled")) / 1e6,
        "gc_s": total("jvmGcTime") / 1e3,
        "stages": float(len(stages)),
        "tasks": total("numCompleteTasks"),
    }


def node_rows(executions: list, match) -> float:
    """Sum of 'number of output rows' over plan nodes whose name satisfies
    ``match`` in the given SQL executions."""
    rows = 0.0
    for ex in executions:
        for node in ex.get("nodes", []):
            if not match(node.get("nodeName", "")):
                continue
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    rows += _num(m["value"])
    return rows


def is_join(name: str) -> bool:
    return name.endswith("Join") or name == "CartesianProduct"


def is_python_eval(name: str) -> bool:
    return name in ("ArrowEvalPython", "BatchEvalPython") or (
        "InPandas" in name or "InArrow" in name)
