"""Per-pass counts read from Spark's own status stores (outside any timed
region): the application store for jobs/stages/tasks and stage task
metrics, the SQL store for executions and per-operator metrics. Counts
are deltas between two marks, so only work done by the pass is counted.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# SQL operators whose metrics describe the JVM <-> Python Arrow boundary
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInArrow", "AggregateInPandas",
                "WindowInPandas", "FlatMapCoGroupsInPandas")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}

COUNT_KEYS = ("jobs", "stages", "tasks", "sql_execs",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "broadcast_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
              "python_rows", "python_bytes")
# counts that must repeat exactly across warm passes of one run
EXACT_KEYS = ("jobs", "stages", "tasks", "sql_execs", "shuffle_write_bytes",
              "python_rows", "python_bytes")
_PYTHON_BYTES = ("data sent to Python workers",
                 "data returned from Python workers")


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _newer(s, key, after: int, newest_first: bool = True) -> list:
    """Items of a store list sorted by id (jobs and stages newest first,
    SQL executions oldest first) whose id is above ``after``: stops at
    the first older one instead of crossing the JVM boundary for every
    item the run has made."""
    n, out = s.size(), []
    for i in range(n) if newest_first else range(n - 1, -1, -1):
        item = s.apply(i)
        if key(item) <= after:
            break
        out.append(item)
    return out


def parse_metric_value(text: str) -> float:
    """First value of a formatted SQL metric: '1,234', '12.5 KiB', or
    'total (min, med, max ...)\\n12.5 KiB (...)'."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"\s*([-\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "B", 1)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._app = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _stages(self):
        return self._app.stageList(None, False, False, self._no_quantiles,
                                   None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event: the
        stores are filled asynchronously, so a stage that just ended may
        not be COMPLETE in them yet."""
        self._bus.waitUntilEmpty()

    def mark(self) -> Mark:
        self.drain()
        jobs, stages = self._app.jobsList(None), self._stages()
        execs = self._sql.executionsList()
        return Mark(jobs.apply(0).jobId() if jobs.size() else -1,
                    stages.apply(0).stageId() if stages.size() else -1,
                    execs.apply(execs.size() - 1).executionId()
                    if execs.size() else -1)

    def counts_since(self, mark: Mark) -> dict[str, float]:
        self.drain()
        out = dict.fromkeys(COUNT_KEYS, 0.0)
        out["jobs"] = float(len(_newer(self._app.jobsList(None),
                                       lambda j: j.jobId(), mark.job)))
        for s in _newer(self._stages(), lambda s: s.stageId(), mark.stage):
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
        for e in _newer(self._sql.executionsList(),
                        lambda e: e.executionId(), mark.execution,
                        newest_first=False):
            eid = e.executionId()
            out["sql_execs"] += 1
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                python = any(name.startswith(p) for p in PYTHON_NODES)
                broadcast = name.startswith("BroadcastExchange")
                if not (python or broadcast):
                    continue
                for m in _seq(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    if raw.isEmpty():
                        continue
                    v = parse_metric_value(raw.get())
                    if python and m.name() == "number of output rows":
                        out["python_rows"] += v
                    elif python and m.name() in _PYTHON_BYTES:
                        out["python_bytes"] += v
                    elif broadcast and m.name() == "data size":
                        out["broadcast_bytes"] += v
        return out
