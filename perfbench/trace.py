"""Tracing for the benchmark: spans around calls into the engine's public
functions, Spark job/stage/task counts from ``statusTracker``, task metrics
from Spark's event log, and the peak resident memory of the process tree
from ``/proc``.

Spans are recorded by wrapping module and class attributes of the package
from this file; the package itself is not modified. Wrappers are installed
only in a traced run and removed before the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent index,
    request id); spans of one benchmark operation share its request id.
    Recording can be paused (``enabled = False``) without unwrapping, so a
    traced run can interleave traced and untraced operations."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self.request: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. Works for
        module functions and plain methods (the wrapper is a plain function,
        so attribute lookup on an instance still binds ``self``).
        ``on_result(rec, args, kwargs, result)`` may add fields to the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = original(*args, **kwargs)
                if rec is not None and on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def restore(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def durations(self, name: str, request_prefix: str | None = None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (request_prefix is None or (s["request"] or "").startswith(request_prefix))
        ]

    def self_ms(self, name: str, request_prefix: str | None = None) -> list[float]:
        """Per span named ``name``: its duration minus the time covered by
        its direct children (children never overlap: the driver is one
        thread)."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000.0
        return [
            (s["end"] - s["start"]) * 1000.0 - child_ms[i]
            for i, s in enumerate(self.spans)
            if s["name"] == name and s["end"] is not None
            and (request_prefix is None or (s["request"] or "").startswith(request_prefix))
        ]

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": round(s["start"] - t0, 6),
             "end": None if s["end"] is None else round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, default=str)


# -- Spark accounting ----------------------------------------------------------

def group_counts(sc, group: str, wait_s: float = 5.0) -> dict:
    """Jobs, stages that ran, and tasks completed for one job group, read
    from ``statusTracker``. The status store is fed by the listener bus
    asynchronously, so wait until every job of the group has finished."""
    st = sc.statusTracker()
    deadline = time.monotonic() + wait_s
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        done = all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    stages = tasks = 0
    for j in jobs:
        if j is None:
            continue
        for sid in j.stageIds:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


_FILES_READ = "number of files read"


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m.get("accumulatorId"))
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Fold an uncompressed, non-rolling Spark event log into per-job-group
    totals: executor run/CPU/GC ms, shuffle bytes written, spill bytes,
    input bytes and records, files read by scans, and the sum over stages of
    the longest task (the critical path of a chain of stages)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1 or os.path.isdir(files[0]):
        raise RuntimeError(f"expected one plain event log file in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_acc: set = set()
    files_by_exec: dict[int, float] = defaultdict(float)
    stage_max_task: dict[tuple[int, int], float] = defaultdict(float)
    tot: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group[int(eid)] = group
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_ids(ev.get("sparkPlanInfo") or {}, _FILES_READ, files_acc)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in files_acc:
                        files_by_exec[int(ev["executionId"])] += value
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                t = tot[group]
                t["executor_run_ms"] += m.get("Executor Run Time", 0)
                t["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                t["input_bytes"] += inp.get("Bytes Read", 0)
                t["input_records"] += inp.get("Records Read", 0)
                info = ev.get("Task Info") or {}
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                stage_max_task[key] = max(stage_max_task[key], dur)
    for (sid, _attempt), dur in stage_max_task.items():
        tot[stage_group[sid]]["critical_task_ms"] += dur
    for eid, n in files_by_exec.items():
        group = exec_group.get(eid)
        if group is not None:
            tot[group]["files_read"] += n
    return {g: dict(v) for g, v in tot.items()}


# -- host ----------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


# -- memory ------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes mapping it, so the JVM's short-lived forks and
    the Python workers forked from one daemon are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def tree_pss_mb(root: int) -> float:
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the resident memory (PSS) summed over this process and all
    its descendants (the JVM and the Python workers) from a daemon
    thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
