"""Measurement plumbing: spans, Spark status-store readings and RSS.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  writes them as JSON lines when the run ends.
* ``StatusProbe`` reads what Spark itself recorded for one op's job
  group, from outside the program: stage data from
  ``sc._jsc.sc().statusStore()`` and per-operator SQL metrics from
  ``sharedState().statusStore()``. Both stores stay populated with
  ``spark.ui.enabled=false``.
* ``RssSampler`` is the one extra thread a run starts: it samples the
  resident set of the driver JVM and its Python workers.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# ----------------------------------------------------------------- spans


class Tracer:
    """Spans around the benchmark's calls into each layer. Disabled
    tracers cost one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


# ---------------------------------------------------------- status stores

_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
)
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _count(text: str) -> int:
    digits = "".join(ch for ch in str(text).split("\n")[0] if ch.isdigit())
    return int(digits) if digits else 0


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_mb(text: str) -> float:
    """A SQL size metric ("1386.5 KiB", or a task summary whose second
    line starts with the total) in MB."""
    lines = str(text).split("\n")
    parts = lines[-1 if len(lines) > 1 else 0].split()
    try:
        return float(parts[0].replace(",", "")) * _SIZE_UNITS[parts[1]] / 1e6
    except (IndexError, KeyError, ValueError):
        return 0.0


class StatusProbe:
    """Per-op readings from Spark's status stores. ``begin`` tags the
    op's jobs with a fresh job group; ``mark_action`` splits the jobs the
    builder started from the action's; ``end`` drains the listener bus
    and returns the op's counters."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        self._group = group
        self._exec0 = self.sql_store.executionsCount()
        return group

    def _jobs(self) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def mark_action(self) -> None:
        self._drain()
        self._build_jobs = set(self._jobs())

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def end(self, action_start: float, action_end: float) -> dict:
        self._drain()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self._jobs()
        m = {
            "entry.build_jobs": len(self._build_jobs),
            "exec.jobs": len(jobs),
            "exec.stages": 0, "exec.tasks": 0, "exec.task_s": 0.0, "exec.cpu_s": 0.0,
            "exec.gc_s": 0.0, "exec.task_skew": 1.0, "shuffle.write_mb": 0.0,
            "shuffle.read_mb": 0.0, "spill.mb": 0.0,
        }
        intervals = []
        for jid in jobs:
            for sid in _seq(self.store.job(jid).stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += st.numCompleteTasks()
                m["exec.task_s"] += st.executorRunTime() / 1e3
                m["exec.cpu_s"] += st.executorCpuTime() / 1e9
                m["exec.gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle.write_mb"] += st.shuffleWriteBytes() / 1e6
                m["shuffle.read_mb"] += st.shuffleReadBytes() / 1e6
                m["spill.mb"] += st.diskBytesSpilled() / 1e6
                sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
                if sub is not None and done is not None:
                    intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
                if st.numCompleteTasks() >= 2:
                    m["exec.task_skew"] = max(m["exec.task_skew"], self._skew(sid, st.attemptId()))
        m["exec.driver_gap_s"] = max(
            0.0, (action_end - action_start) - _covered(intervals, action_start, action_end)
        )
        m.update(self._sql_metrics())
        return m

    def _skew(self, sid: int, attempt: int) -> float:
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = _opt(self.store.taskSummary(sid, attempt, q))
        if dist is None:
            return 1.0
        run = dist.executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / max(med, 1.0)

    def _sql_metrics(self) -> dict:
        """Rows out of scan, join, aggregate and Python-boundary operators,
        and file bytes scanned, from the SQL executions this op started.
        (Stage input bytes miss parquet's vectored reads on local files.)"""
        out = {"scan.mb": 0.0, "scan.rows": 0, "join.candidate_rows": 0, "python.rows": 0,
               "agg.partial_rows": 0, "agg.output_rows": 0}
        n_exec = self.sql_store.executionsCount()
        if n_exec <= self._exec0:
            return out
        for ex in _seq(self.sql_store.executionsList(self._exec0, n_exec - self._exec0)):
            eid = ex.executionId()
            values = {}
            it = self.sql_store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                metrics = {m.name(): values.get(m.accumulatorId(), "0") for m in _seq(node.metrics())}
                rows = _count(metrics.get("number of output rows", "0"))
                if name.startswith("Scan "):
                    out["scan.rows"] += rows
                    out["scan.mb"] += _size_mb(metrics.get("size of files read", "0"))
                elif "Join" in name or name == "CartesianProduct":
                    out["join.candidate_rows"] += rows
                elif name in _PYTHON_NODES:
                    out["python.rows"] += rows
                elif name in _AGG_NODES:
                    key = "agg.partial_rows" if "partial_" in node.desc() else "agg.output_rows"
                    out[key] += rows
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -------------------------------------------------------------------- RSS


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _kb(path: str, field: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    """A PySpark daemon or a worker forked from it (the JVM's own
    command line names ``pyspark-shell``, so a helper it spawns matches
    only ``pyspark.daemon`` once it has exec'd)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_rss_mb(pid: int) -> tuple[float, float]:
    """Resident set of ``pid``, and the proportional set (PSS) of the
    PySpark daemon and workers below it, in MB. Workers are forked from
    one daemon and share most of their pages, which RSS would count once
    per worker. Other children are not counted: a helper the JVM spawns
    shares the JVM's whole address space until it execs."""
    own, rest, todo = _kb(f"/proc/{pid}/status", "VmRSS:"), 0, _children(pid)
    while todo:
        p = todo.pop()
        if _is_python_worker(p):
            rest += _kb(f"/proc/{p}/smaps_rollup", "Pss:")
        todo.extend(_children(p))
    return own / 1024.0, rest / 1024.0


class RssSampler:
    """Samples the JVM process tree every ``period`` seconds while
    active; ``peak_mb`` is the largest sum seen, ``peak_jvm_mb`` and
    ``peak_workers_mb`` the largest of each part."""

    def __init__(self, pid: int, period: float = 0.05):
        self.pid, self.period = pid, period
        self.peak_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        jvm, workers = tree_rss_mb(self.pid)
        self.peak_mb = max(self.peak_mb, jvm + workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
