"""Tracing from outside the engine: spans, process-tree CPU, event-log counters.

Nothing here reaches into the engine package.  Spans are recorded around
calls into public functions, either by the benchmark's own ``with
tracer.span(...)`` blocks or by ``Tracer.wrap``, which swaps a module
attribute for a timing wrapper (intra-module calls resolve globals through
the module dict, so they are timed as well).  Spans stay in memory and are
written once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder.  ``active`` switches recording on and off between
    operations, so one run can interleave traced and untraced operations;
    ``op`` tags every span with the operation that caused it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        rec = {"name": name, "run": self.run_id, "op": self.op,
               "parent": stack[-1] if stack else None,
               "start_ns": time.perf_counter_ns(), "end_ns": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, timed)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def self_ns(self) -> dict[int, int]:
        """Span id -> duration minus the part of it covered by child spans."""
        kids: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end_ns"] is not None:
                kids[s["parent"]].append((s["start_ns"], s["end_ns"]))
        out: dict[int, int] = {}
        for s in self.spans:
            if s["end_ns"] is None:
                continue
            covered, cur_lo, cur_hi = 0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start_ns"]), min(hi, s["end_ns"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
        return out

    def summary(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per span name over the given operations: calls, total seconds,
        self seconds, and the median seconds of one call."""
        selfs = self.self_ns()
        acc: dict[str, dict[str, list]] = defaultdict(lambda: {"dur": [], "self": []})
        for s in self.spans:
            if s["op"] in ops and s["end_ns"] is not None:
                acc[s["name"]]["dur"].append(s["end_ns"] - s["start_ns"])
                acc[s["name"]]["self"].append(selfs[s["id"]])
        return {name: {"calls": len(v["dur"]), "total_s": sum(v["dur"]) / 1e9,
                       "self_s": sum(v["self"]) / 1e9,
                       "median_s": statistics.median(v["dur"]) / 1e9}
                for name, v in acc.items()}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# CPU of the process tree (driver, JVM, Python workers) from /proc
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, utime+stime+cutime+cstime in clock ticks)."""
    table: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:       # the process ended while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def descendants(table: dict | None = None) -> list[int]:
    """Every live descendant of this process."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _ticks) in table.items():
        children[ppid].append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (driver, JVM,
    Python workers), including what they hold for reaped children."""
    table = _proc_table()
    pids = [os.getpid(), *descendants(table=table)]
    return sum(table[p][1] for p in pids if p in table) / _TICK


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "InArrow" in name


def read_events(event_dir: str) -> list[dict]:
    events: list[dict] = []
    for root, _dirs, files in os.walk(event_dir):
        for f in sorted(files):
            if f.startswith(".") or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:   # a torn last line
                        continue
    return events


def spark_counters(events: list[dict], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Totals over the jobs, tasks and SQL executions that started inside
    [t0_ms, t1_ms] (epoch milliseconds)."""
    jobs = 0
    tasks: list[dict] = []
    plans: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                jobs += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            if t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                tasks.append(ev)
        elif kind == _SQL_START:
            if t0_ms <= ev.get("time", 0) <= t1_ms:
                plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind == _SQL_AQE and ev.get("executionId") in plans:
            plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}

    stages: dict[tuple, list[tuple[int, int, int]]] = defaultdict(list)
    run_ms = cpu_ns = gc_ms = sw = sr = spill = 0
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        stages[(ev.get("Stage ID"), ev.get("Stage Attempt ID"))].append(
            (info.get("Launch Time", 0), info.get("Finish Time", 0), m.get("Executor Run Time", 0)))
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        spill += m.get("Disk Bytes Spilled", 0)

    skew = 1.0
    multi = [ts for ts in stages.values() if len(ts) >= 2]
    if multi:
        longest = max(multi, key=lambda ts: max(t[1] for t in ts) - min(t[0] for t in ts))
        runs = [t[2] for t in longest]
        skew = max(runs) / max(statistics.median(runs), 1)

    exchanges = sorts = python = 0
    for info in plans.values():
        for name in _plan_nodes(info):
            exchanges += name in ("Exchange", "BroadcastExchange")
            sorts += name == "Sort"
            python += _is_python_node(name)
    mb = 1024 * 1024
    return {"jobs": jobs, "stages": len(stages), "tasks": len(tasks),
            "executor_run_s": run_ms / 1e3, "executor_cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1e3, "shuffle_write_mb": sw / mb, "shuffle_read_mb": sr / mb,
            "spill_mb": spill / mb, "task_skew": skew, "sql_executions": len(plans),
            "exchanges": exchanges, "sorts": sorts, "python_nodes": python}
