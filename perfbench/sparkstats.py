"""Reads Spark's own status store for the jobs, stages and SQL executions
that ran between two marks.

Works with ``spark.ui.enabled=false``: the stage/job data comes from
``SparkContext.statusStore()`` and the SQL plan metrics (including the
Python-worker metrics of ``MapInPandas`` nodes) from the session's
``sharedState().statusStore()``.  Reading happens after the measured work,
so it adds no Spark job and no time to what it measures.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_DURATION = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number: seconds for durations,
    bytes for sizes, the plain count otherwise.  Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _DURATION:
        return number * _DURATION[unit]
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit == "":
        return number
    raise ValueError(f"unknown unit in SQL metric {text!r}")


@dataclass
class Mark:
    job: int
    stage: int
    execution: int


@dataclass
class Window:
    """Spark activity between two marks."""

    jobs: int = 0
    stages: list[dict] = field(default_factory=list)
    executions: list[dict] = field(default_factory=list)

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.stages)

    def execution_seconds(self, plan_has: str) -> float:
        return sum(ex["seconds"] for ex in self.executions if plan_has in ex["plan"])


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _stage_list(self):
        no_quantiles = self._jvm.java.lang.reflect.Array.newInstance(
            self._jvm.java.lang.Double.TYPE, 0
        )
        return self._store.stageList(None, False, False, no_quantiles, None)

    def mark(self) -> Mark:
        jobs = [j.jobId() for j in _seq(self._store.jobsList(None))]
        stages = [s.stageId() for s in _seq(self._stage_list())]
        execs = [e.executionId() for e in _seq(self._sql.executionsList())]
        return Mark(max(jobs, default=-1), max(stages, default=-1), max(execs, default=-1))

    def since(self, mark: Mark) -> Window:
        win = Window()
        win.jobs = sum(1 for j in _seq(self._store.jobsList(None)) if j.jobId() > mark.job)
        for s in _seq(self._stage_list()):
            if s.stageId() <= mark.stage:
                continue
            win.stages.append(
                {
                    "stage": s.stageId(),
                    "name": s.name(),
                    "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_mb": s.inputBytes() / 2**20,
                    "output_mb": s.outputBytes() / 2**20,
                    "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
                    "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
                }
            )
        for ex in _seq(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= mark.execution:
                continue
            done = ex.completionTime()
            seconds = (done.get().getTime() - ex.submissionTime()) / 1e3 if done.isDefined() else 0.0
            values = self._sql.executionMetrics(eid)
            nodes = []
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nodes.append({"name": node.name(), "desc": node.desc(), "metrics": metrics})
            win.executions.append(
                {
                    "id": eid,
                    "seconds": seconds,
                    "plan": ex.physicalPlanDescription(),
                    "nodes": nodes,
                }
            )
        return win
