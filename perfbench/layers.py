"""Per-layer readings for a traced run.

Spans are recorded from the benchmark's side, around the calls it makes into
each layer (session start, ``Query.fn`` construction, the noop-sink execute,
``io.table``, ``SnapshotLog`` methods), and kept in memory until the run
writes them out.  Execution and plan counts come from Spark's own status
stores, read over py4j after each op: the job/stage store (one job group per
op phase) and the SQL store, whose plan description is the AQE-final plan.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

_PY_METRICS = {
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_received_b",
}
_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}


class Tracer:
    """Span recorder.  ``active`` is switched per pass, so a traced run can
    interleave untraced passes and report the tracing overhead."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call (a pass-through when off)."""

        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def trace_io_table(tracer: Tracer) -> None:
    """Route every module-level reference to ``io.table`` through a span.
    Query modules import it by name, so each binding is replaced."""
    import sys

    from experiments_datafusion_spark import io

    orig = io.table
    traced = tracer.wrap(orig, "io.table")
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("experiments_datafusion_spark") and (
            getattr(mod, "table", None) is orig
        ):
            mod.table = traced


def plan_nodes(description: str) -> list[str]:
    """Operator names of the main plan tree of a formatted explain string,
    keeping the AQE ``Final Plan`` and dropping ``Initial Plan`` subtrees."""
    body = description.split("== Physical Plan ==", 1)[-1].lstrip("\n")
    tree = body.split("\n\n", 1)[0]
    names, skip_at = [], None
    for line in tree.splitlines():
        text = line.lstrip(" :|+-")
        depth = len(line) - len(text)
        if skip_at is not None:
            if depth >= skip_at:
                continue
            skip_at = None
        if text.startswith("== Initial Plan =="):
            skip_at = depth
            continue
        if text.startswith("=="):
            continue
        text = text.lstrip("* ")
        m = re.match(r"[A-Za-z]\w*", text)
        if m:
            names.append(m.group(0))
    return names


def _size_bytes(rendered: str) -> float:
    """Bytes from a rendered SQL size metric ("12.3 KiB" or the
    "total (min, med, max ...)" form, whose total is the first size on the
    last line)."""
    m = _SIZE.search(rendered.strip().splitlines()[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class StatusReader:
    """Reads job, stage and SQL-execution records of finished ops."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._last_exec = self._max_execution_id()

    def _max_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        seq = self._sql.executionsList(n - 1, 1)
        return int(seq.apply(0).executionId()) if seq.size() else -1

    def drain(self) -> None:
        """Block until every listener event of finished work is applied."""
        self._bus.waitUntilEmpty()

    def group(self, group: str) -> dict:
        """Job/stage/task totals of one job group (one op phase)."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "tasks_failed", "task_run_s", "task_cpu_s",
             "shuffle_write_b", "shuffle_read_b", "spill_b"),
            0,
        )
        for job in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job)
            for sid in list(info.stageIds) if info else []:
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["tasks_failed"] += sd.numFailedTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["shuffle_read_b"] += sd.shuffleReadBytes()
                out["spill_b"] += sd.diskBytesSpilled()
        return out

    def new_executions(self) -> dict:
        """Plan counts and Python-worker bytes of the SQL executions that
        started since the previous call."""
        out = dict.fromkeys(
            ("executions", "exchanges", "reused_exchanges", "smj", "bhj", "python_nodes",
             "python_sent_b", "python_received_b"),
            0,
        )
        n = int(self._sql.executionsCount())
        window = min(n, 256)
        seq = self._sql.executionsList(n - window, window)
        for i in range(seq.size()):
            ex = seq.apply(i)
            eid = int(ex.executionId())
            if eid <= self._last_exec:
                continue
            self._last_exec = eid
            out["executions"] += 1
            names = plan_nodes(ex.physicalPlanDescription())
            out["exchanges"] += names.count("Exchange")
            out["reused_exchanges"] += names.count("ReusedExchange")
            out["smj"] += names.count("SortMergeJoin")
            out["bhj"] += names.count("BroadcastHashJoin")
            py = [n for n in names if "Python" in n or "InPandas" in n or "InArrow" in n]
            out["python_nodes"] += len(py)
            if py:
                self._python_bytes(eid, out)
        return out

    def _python_bytes(self, eid: int, out: dict) -> None:
        it = self._sql.executionMetrics(eid).iterator()
        values = {}
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            metrics = nodes.apply(i).metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = _PY_METRICS.get(m.name())
                if key is None:
                    continue
                if m.accumulatorId() in values:
                    out[key] += _size_bytes(values[m.accumulatorId()])
