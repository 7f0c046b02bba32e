"""Measurement plumbing: spans, patching, the event-log fold, peak RSS.

Everything here observes the engine from outside. Spans wrap public
functions by replacing the module attribute wherever the engine looks
the function up; nothing inside the engine is edited. Spans live in
memory and are folded into per-layer figures after the timed region.
"""

from __future__ import annotations

import contextlib
import contextvars
import glob
import json
import os
import threading
import time
from dataclasses import dataclass

_parent: contextvars.ContextVar = contextvars.ContextVar("parent", default=None)
_op: contextvars.ContextVar = contextvars.ContextVar("op", default=None)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder. ``enabled=False`` installs no wrappers,
    so untraced runs pay nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        # Recording is off until a workload's timed region turns it on,
        # and while the harness itself calls into Spark there.
        self.active = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> tuple[int, contextvars.Token]:
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   _parent.get(), _op.get()))
        return idx, _parent.set(idx)

    def end(self, handle: tuple[int, contextvars.Token]) -> None:
        idx, token = handle
        self.spans[idx].end = time.perf_counter()
        _parent.reset(token)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        h = self.begin(name)
        try:
            yield
        finally:
            self.end(h)

    def wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            h = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(h)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unpatch``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        if self.enabled:
            self.replace(owner, attr, self.wrap(getattr(owner, attr), name))

    def patch_everywhere(self, module, attr: str, name: str,
                         package: str = "healthcare_data_warehouse_spark") -> None:
        """Wrap ``module.attr`` and every engine module global that was
        imported from it (``from .loaders import load_table``)."""
        if not self.enabled:
            return
        import sys

        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == package or mname.startswith(package + ".")):
                continue
            if getattr(mod, attr, None) is orig:
                self.replace(mod, attr, wrapped)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- folding ---------------------------------------------------------

    def totals(self) -> dict[str, dict[str, float]]:
        """name → {total, self, count}. Self time is the span minus its
        direct children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if not s.end:
                continue
            d = out.setdefault(s.name, {"total": 0.0, "self": 0.0, "count": 0})
            dur = s.end - s.start
            d["total"] += dur
            d["self"] += dur - child.get(i, 0.0)
            d["count"] += 1
        return out

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start_s": s.start - t0, "end_s": s.end - t0,
                    "parent": s.parent, "op": s.op}) + "\n")


def pct(values: list, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100 * len(s) + 0.5)) - 1))
    return s[k]


def current_op() -> str:
    """The operation id of the request or query this thread serves."""
    return _op.get() or "?"


def set_op(op: str | None) -> contextvars.Token:
    return _op.set(op)


def reset_op(token: contextvars.Token) -> None:
    _op.reset(token)


def span_cost_s(n: int = 2000) -> float:
    """Mean cost of one wrapped call, from a tight loop."""
    tr = Tracer(True)
    f = tr.wrap(lambda: None, "x")
    t = time.perf_counter()
    for _ in range(n):
        f()
    return (time.perf_counter() - t) / n


# -- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (rolling or single-file) log under log_dir."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    events = []
    for p in files:
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold_event_log(events: list[dict]) -> dict:
    """Fold task metrics per job group.

    Returns {"groups": {group: metrics}}. A group's metrics: jobs,
    stages (submitted, i.e. not skipped), tasks, run/cpu/gc seconds,
    shuffle read/write MB, spill MB, the peak execution memory of its
    largest task (MB) and the wall time of its SQL executions."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    sql_open: dict[int, tuple[int, str]] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "peak_exec_mem_mb": 0.0,
            "sql_s": 0.0})

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            grp = props.get("spark.jobGroup.id") or "<none>"
            g(grp)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, grp)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            g(stage_group.get(sid, "<none>"))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            grp = g(stage_group.get(ev.get("Stage ID"), "<none>"))
            m = ev.get("Task Metrics") or {}
            grp["tasks"] += 1
            grp["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            grp["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            grp["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            grp["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            grp["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 2**20
            grp["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / 2**20
            grp["peak_exec_mem_mb"] = max(
                grp["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 2**20)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_open[ev["executionId"]] = (ev["time"], ev.get("jobGroupId") or "<none>")
        elif kind.endswith("SparkListenerSQLExecutionEnd") and ev["executionId"] in sql_open:
            start, grp = sql_open.pop(ev["executionId"])
            g(grp)["sql_s"] += (ev["time"] - start) / 1e3
    return {"groups": groups}


# -- peak RSS ----------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` and all its descendants (Python, JVM, workers)."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
        stack.extend(_children(pid))
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak`` in MB.

    One sample walks every JVM thread's children list (about 400 files,
    ~6 ms on 4 CPUs), in the driver process, during the timed region;
    at 0.5 s it takes about 1% of a CPU."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))
        return self.peak
