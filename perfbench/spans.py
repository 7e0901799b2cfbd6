"""Spans, process-tree CPU by role, and Spark event-log attribution.

Everything here measures the engine from outside: a span wraps a call
into one of the engine's public functions, CPU comes from ``/proc``,
and Spark's own counters come from its event log, matched to spans
through the job group each span sets while it is open.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

ROLES = ("driver_py", "jvm", "py_workers")


# ---------------------------------------------------------------- /proc


def read_proc_table() -> dict[int, tuple[int, int, int, str]]:
    """``{pid: (ppid, utime+stime ticks, starttime, comm)}`` for every
    visible process."""
    procs: dict[int, tuple[int, int, int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                data = fh.read()
        except OSError:
            continue  # the process exited while we listed
        # comm (field 2) may hold spaces or parens: split after the last ')'
        lpar, rpar = data.find(b"("), data.rfind(b")")
        comm = data[lpar + 1 : rpar].decode(errors="replace")
        rest = data[rpar + 2 :].split()
        # rest[1]=ppid (field 4), rest[11]/[12]=utime/stime (14/15),
        # rest[19]=starttime (22)
        procs[int(name)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]),
            int(rest[19]),
            comm,
        )
    return procs


def classify_tree(
    procs: dict[int, tuple[int, int, int, str]], root: int
) -> dict[tuple[int, int], tuple[str, int]]:
    """Walk the subtree under ``root`` and give each process a role:
    ``root`` itself is ``driver_py``; a ``java`` child of the root is
    ``jvm``; a Python process anywhere below that JVM is
    ``py_workers``; anything else in the tree is ``other``. Keys carry
    the start time so a recycled pid never merges with the process it
    replaced."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t, _s, _c) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[tuple[int, int], tuple[str, int]] = {}
    stack: list[tuple[int, str]] = [(root, "driver_py")]
    while stack:
        pid, role = stack.pop()
        if pid not in procs:
            continue
        _ppid, ticks, start, _comm = procs[pid]
        out[(pid, start)] = (role, ticks)
        for child in children.get(pid, []):
            comm = procs[child][3]
            if role == "driver_py":
                child_role = "jvm" if comm == "java" else "other"
            elif role == "jvm" and comm.startswith("python"):
                child_role = "py_workers"
            else:
                child_role = role
            stack.append((child, child_role))
    return out


def cpu_sample() -> dict[tuple[int, int], tuple[str, int]]:
    return classify_tree(read_proc_table(), os.getpid())


def cpu_delta(
    start: dict[tuple[int, int], tuple[str, int]],
    end: dict[tuple[int, int], tuple[str, int]],
    clk: int | None = None,
) -> dict[str, float]:
    """CPU seconds per role between two samples. A process present in
    both contributes its tick delta; one born in between contributes
    all its ticks; one that exited in between contributes nothing,
    because its in-window CPU is gone from /proc. Churn therefore
    undercounts and never inflates."""
    clk = clk or os.sysconf("SC_CLK_TCK")
    out = {r: 0.0 for r in (*ROLES, "other")}
    for key, (role, ticks) in end.items():
        before = start.get(key, (role, 0))[1]
        out[role] += max(0, ticks - before) / clk
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live pids below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    tree = classify_tree(read_proc_table(), root)
    return [pid for (pid, _s) in tree if pid != root]


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int | None
    parent: int | None
    start: float
    end: float | None = None
    phase: str = "timed"
    counters: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are merged first)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Spans kept in memory until the end of the run. With
    ``enabled=False`` every span is a no-op, so the untraced run pays
    nothing for the instrumentation."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"
        self.op_id: int | None = None

    def span(self, name: str, **counters):
        return _SpanCtx(self, name, counters)

    def _open(self, name: str, counters: dict) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(
            span_id=len(self.spans) + 1,
            name=name,
            op_id=self.op_id,
            parent=parent,
            start=time.perf_counter(),
            phase=self.phase,
            counters=dict(counters),
        )
        s.cpu = cpu_sample()
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(str(s.span_id), name)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        s.cpu = cpu_delta(s.cpu, cpu_sample())
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self._set_group(str(top.span_id), top.name)
        else:
            self._set_group(None, None)

    def _set_group(self, group: str | None, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", name)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, counters: dict):
        self.tracer, self.name, self.counters = tracer, name, counters
        self.span: Span | None = None

    def __enter__(self) -> "_SpanCtx":
        self.span = self.tracer._open(self.name, self.counters)
        return self

    def count(self, **kv) -> None:
        """Attach counters measured at this boundary."""
        if self.span is not None:
            self.span.counters.update(kv)

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


# ------------------------------------------------------------ event log

SPARK_KEYS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_s",
)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group: job and task counts plus summed task metrics,
    from an uncompressed Spark event log (one JSON event a line). A
    stage belongs to the first job that lists it; later jobs that
    list it again skip it and run none of its tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, {k: 0.0 for k in SPARK_KEYS})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(int(sid), group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev.get("Stage ID", -1)))
            if group is None:
                continue
            b = bucket(group)
            b["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
    return out


def read_event_log_dir(path: str) -> dict[str, dict[str, float]]:
    """Parse the single application log Spark left under ``path``."""
    logs = [f for f in os.listdir(path) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log under {path}, found {logs}")
    with open(os.path.join(path, logs[0])) as fh:
        return parse_event_log(fh)
