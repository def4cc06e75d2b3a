"""Per-call Spark counters for the traced run, read from outside the program.

- jobs, stages and tasks of a call: the call runs under its own job group,
  and the status tracker lists the group's jobs afterwards; a stage counts
  when it ran at least one task (skipped stages reuse earlier shuffles);
- Catalyst phase times of an action: `queryExecution().tracker().phases()`
  of the DataFrame the action ran on;
- shuffle and scan bytes of an action: SQL metrics summed over its final
  adaptive plan;
- files a scan read inside a call the benchmark does not hold the
  DataFrame of: the SQL status store's plan graphs of the executions that
  ran since a given one.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

PHASES = ("analysis", "optimization", "planning")


class SparkStats:
    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._sc = spark.sparkContext
        self._groups = 0
        self.totals: Counter = Counter()
        self.hook_s = 0.0  # time spent reading these counters: tracing overhead

    @contextmanager
    def group(self, prefix: str):
        """Run the body under a fresh job group and add its job, stage and
        task counts to `totals` under `<prefix>.jobs` etc."""
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self._sc.setJobGroup(gid, prefix)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            jobs, stages, tasks = self._count(gid)
            self.totals[f"{prefix}.jobs"] += jobs
            self.totals[f"{prefix}.stages"] += stages
            self.totals[f"{prefix}.tasks"] += tasks
            self.hook_s += time.perf_counter() - t0

    def _count(self, gid: str) -> tuple[int, int, int]:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
        return len(jobs), stages, tasks

    def action(self, df: DataFrame, prefix: str) -> None:
        """Add the Catalyst phase seconds and plan bytes of the action that
        just ran on `df` to `totals`."""
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for name in PHASES:
            if phases.contains(name):
                s = phases.get(name).get()
                self.totals[f"{prefix}.{name}_s"] += (s.endTimeMs() - s.startTimeMs()) / 1e3
        shuffle = scan = 0
        for node in _walk(qe.executedPlan()):
            cls = node.getClass().getSimpleName()
            if cls == "ShuffleExchangeExec":
                shuffle += _metric(node, "shuffleBytesWritten")
            elif cls in ("FileSourceScanExec", "BatchScanExec"):
                scan += _metric(node, "filesSize")
        self.totals[f"{prefix}.shuffle_bytes"] += shuffle
        self.totals[f"{prefix}.scan_bytes"] += scan
        self.hook_s += time.perf_counter() - t0

    def last_execution(self) -> int:
        """Id of the latest SQL execution so far (-1 when there is none)."""
        t0 = time.perf_counter()
        executions = self._store().executionsList()
        last = max((executions.apply(i).executionId() for i in range(executions.size())), default=-1)
        self.hook_s += time.perf_counter() - t0
        return last

    def files_read(self, since: int, scan: str) -> int:
        """Files read by the `Scan <scan>` nodes of every SQL execution after
        `since` ("number of files read"; a scan served from cache reads 0)."""
        t0 = time.perf_counter()
        store = self._store()
        executions = store.executionsList()
        files = 0
        for i in range(executions.size()):
            eid = executions.apply(i).executionId()
            if eid <= since:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name().strip() != f"Scan {scan}":
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of files read" and v.isDefined():
                        files += int(v.get().replace(",", ""))
        self.hook_s += time.perf_counter() - t0
        return files

    def _store(self):
        return self._spark._jsparkSession.sharedState().statusStore()


def _walk(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    if cls == "ReusedExchangeExec":
        return  # its bytes were counted where the exchange first ran
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i))


def _metric(node, name: str) -> int:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else 0
