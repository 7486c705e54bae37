"""Spans recorded from outside the program, around each public call.

A span sets a Spark job group, runs the call and, in a traced run,
materializes a returned DataFrame at the span's boundary so the span
holds its own compute. It then reads what Spark's status stores say
about the jobs of that group. Nothing here changes the program.

Measures per span:

- ``wall_s``: the span's wall time.
- ``driver_gap_s``: wall time not covered by any of the span's jobs.
- ``jobs``, ``stages``, ``tasks``: counts of what ran (skipped stages,
  whose shuffle output was reused, are not counted).
- ``exec_cpu_s``: executor CPU time summed over the tasks.
- ``shuffle_write_mb``, ``spill_mb``: bytes written by shuffles and
  spilled (memory + disk), in MiB.
- ``py_worker_s``: "time to run Python workers" summed over the Python
  nodes (ArrowEvalPython, MapInPandas, FlatMap(Co)GroupsInPandas, ...)
  of the SQL executions whose jobs ran in the span. Python work inside a
  lazily checkpointed sub-plan is recorded by the execution that built
  the checkpoint, which runs no job, so it is not counted.
"""

from __future__ import annotations

import re
import time
import uuid
from contextlib import contextmanager

# measures summed over a span's jobs (and its children's)
SUMMED = ("jobs", "stages", "tasks", "exec_cpu_s", "shuffle_write_mb",
          "spill_mb", "py_worker_s")
MEASURES = ("wall_s", "driver_gap_s") + SUMMED
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
             "AggregateInPandas", "ArrowWindowPython")
_PY_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_MIB = 1024.0 * 1024.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(k) for k in range(scala_seq.size())]


def _parse_duration(text: str) -> float:
    """Seconds from a formatted SQL timing metric: its total, which is
    the first duration on the last line ("10.7 s (2.6 s, ...)")."""
    m = _DURATION.search(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Runs steps; with ``traced`` set, records one span per step.

    Untraced, ``step`` only calls the function, so a job timed through an
    untraced Tracer runs exactly the calls a user would make.
    """

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans = []          # dicts: name, parent, wall_s, measures...
        self._stack = []
        self._cached = []

    def release(self):
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def step(self, name: str, fn, reuse: bool = False):
        """Run ``fn``. ``reuse`` marks a DataFrame that later steps read
        more than once: an untraced job caches it, as a batch caller
        would, and ``release`` drops the cache when the job ends."""
        if not self.traced:
            out = fn()
            if reuse:
                out = out.cache()
                self._cached.append(out)
            return out
        with self.span(name):
            out = fn()
            if _is_dataframe(out):
                out = out.localCheckpoint(eager=True)
        return out

    @contextmanager
    def span(self, name: str):
        """A span around a block; collects Spark metrics when traced."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{uuid.uuid4().hex}"
        parent = self._stack[-1] if self._stack else None
        outer_group = parent["group"] if parent else None
        rec = {"name": name, "parent": parent["name"] if parent else None,
               "group": group, "children": []}
        self._stack.append(rec)
        sc.setJobGroup(group, name, interruptOnCancel=False)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if outer_group is not None:
                sc.setJobGroup(outer_group, parent["name"],
                               interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        rec["wall_s"] = t1 - t0
        own = self._collect(group, t0, t1)
        kids = rec["children"]
        for k in SUMMED:
            rec[k] = own[k] + sum(c[k] for c in kids)
        rec["_intervals"] = own["_intervals"] + [
            iv for c in kids for iv in c["_intervals"]]
        rec["driver_gap_s"] = max(
            0.0, rec["wall_s"] - _union_length(rec["_intervals"]))
        rec["self_s"] = rec["wall_s"] - sum(c["wall_s"] for c in kids)
        if parent is not None:
            parent["children"].append(rec)
        self.spans.append(rec)

    def _collect(self, group: str, t0: float, t1: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
        out = {k: 0.0 for k in SUMMED}
        intervals = []
        for jid in job_ids:
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  comp.get().getTime() / 1e3))
            out["jobs"] += 1
            for sid in _seq(jd.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:   # py4j error: stage never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MIB
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / _MIB
        out["py_worker_s"] = self._python_seconds(job_ids)
        out["_intervals"] = [(max(a, t0), min(b, t1)) for a, b in intervals]
        return out

    def _python_seconds(self, job_ids: set) -> float:
        if not job_ids:
            return 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not node.name().startswith(_PY_NODES):
                    continue
                mets = node.metrics().iterator()
                while mets.hasNext():
                    m = mets.next()
                    if m.name() == _PY_METRIC:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _parse_duration(v.get())
        return total


def _is_dataframe(obj) -> bool:
    from pyspark.sql import DataFrame
    return isinstance(obj, DataFrame)
