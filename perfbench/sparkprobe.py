"""Read what Spark did, from outside the program.

- ``JobGroups``: tag each call with a fresh job group, then count the
  jobs, stages and tasks the group ran through ``statusTracker``.
- ``plan_metrics``: walk the executed (AQE final) plan of a collected
  DataFrame and sum the SQL metrics the benchmark reports.
- ``ProgressListener``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress event with the monotonic time it arrived.
"""

from __future__ import annotations

import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_DONE = {"SUCCEEDED", "FAILED"}


class JobGroups:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ids = itertools.count()

    def start(self, tag: str) -> str:
        gid = f"perfbench-{next(self._ids)}-{tag}"
        self.sc.setJobGroup(gid, tag)
        return gid

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str, wait_s: float = 2.0) -> dict:
        """Jobs, executed stages and tasks of one group. Status updates
        travel through the listener bus, so wait briefly for every job
        of the group to reach a final state."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + wait_s
        while True:
            infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(gid)]
            infos = [i for i in infos if i is not None]
            if all(i.status in _DONE for i in infos) or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        stages = tasks = failed = 0
        for info in infos:
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(infos), "stages": stages, "tasks": tasks, "tasks_failed": failed}


_PLAN_SUMS = {
    "scan_rows": ("numOutputRows", lambda cls: cls.endswith("ScanExec") or cls == "RangeExec"),
    "shuffle_bytes": ("shuffleBytesWritten", lambda cls: True),
    "spill_bytes": ("spillSize", lambda cls: True),
    "coalesced_partitions": ("numCoalescedPartitions", lambda cls: True),
}


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_metrics(df) -> dict:
    """Sums over the executed plan, descending through AQE wrappers and
    query stages (each node counted once)."""
    totals = dict.fromkeys(_PLAN_SUMS, 0)
    root = df._jdf.queryExecution().executedPlan()
    todo = [root]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its work is counted where the exchange ran
        for key, (metric, applies) in _PLAN_SUMS.items():
            if applies(cls):
                totals[key] += _metric(node, metric)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return totals


class ProgressListener(StreamingQueryListener):
    def __init__(self):
        self.lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        t = time.monotonic()
        p = event.progress
        end = None
        if p.sources and p.sources[0].endOffset:
            end = json.loads(p.sources[0].endOffset).get("offset")
        rec = {
            "t": t,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "commit_ms": s.commitTimeMs,
                    "memory_bytes": s.memoryUsedBytes,
                }
                for s in (p.stateOperators or [])
            ],
            "end": end,
        }
        with self.lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.events)

    def committed_end(self) -> int:
        with self.lock:
            ends = [e["end"] for e in self.events if e["end"] is not None]
        return max(ends, default=0)
