"""Spans recorded around the benchmark's calls into the library, and the
engine metrics attributed to them through Spark job groups.

A span holds a name, start, end, parent and the op it belongs to. In a
traced run each span also sets the Spark job group to its own id, so the
event log (enabled only in traced runs) ties every job, stage and task to
the span that caused it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    phase: str | None
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)
    groups: list = field(default_factory=list)   # other job groups it owns

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self, by_id: dict) -> float:
        """Duration minus the part of it that child spans cover (children
        of one span never overlap: the benchmark is single-threaded)."""
        return self.dur - sum(by_id[c].dur for c in self.children)


class Tracer:
    """Records spans when enabled; otherwise every call is a no-op."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self.overhead_s = 0.0

    def bind(self, sc) -> None:
        """Attach the SparkContext whose job group follows the open span."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  self.op, phase, 0.0)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp.sid)
        self._stack.append(sp)
        self._set_group(sp)
        t1 = time.perf_counter()
        sp.start = t1
        self.overhead_s += t1 - t0
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t2

    def alias(self, group: str) -> None:
        """Attribute the jobs of another job group to the open span: for
        work Spark runs under a group of its own, as a streaming query runs
        its micro-batches under the query's runId."""
        if self.enabled and self._stack:
            self._stack[-1].groups.append(group)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(str(sp.sid), sp.name, False)

    def by_id(self) -> dict:
        return {s.sid: s for s in self.spans}

    def dump(self, path: str) -> None:
        by_id = self.by_id()
        with open(path, "w") as f:
            json.dump([{"id": s.sid, "name": s.name, "parent": s.parent,
                        "op": s.op, "phase": s.phase, "groups": s.groups,
                        "start": s.start, "end": s.end,
                        "self_s": s.self_time(by_id)}
                       for s in self.spans], f)


# -- CPU time ----------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple:
    """(comm, ppid, own ticks, reaped children's ticks, start time) of one
    /proc stat file; own ticks are utime + stime, children's are cutime +
    cstime."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    v = tail.split()
    return (head.split("(", 1)[1], int(v[1]), int(v[11]) + int(v[12]),
            int(v[13]) + int(v[14]), int(v[19]))


class CpuMeter:
    """User + system CPU seconds used so far by a process and every process
    below it (for the benchmark: itself, the Spark JVM, the JVM's Python
    worker daemon and workers), read from /proc.

    Process-level figures keep the time of threads that have exited, and a
    parent's cutime/cstime keeps that of children it has reaped (the worker
    daemon reaps its forked workers), so short-lived threads and workers
    are counted. JIT compiler threads are left out: what the JVM compiles
    varies from run to run and is not the measured work. Their time is
    taken from their own task entries; since the JVM stops idle compiler
    threads, the last figure seen for each is kept after it is gone."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self._jit: dict = {}        # (pid, tid, start) -> ticks last seen

    def __call__(self) -> float:
        procs = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    procs[int(entry)] = _stat(f"/proc/{entry}/stat")
                except OSError:
                    continue        # exited while scanning
        children: dict = {}
        for pid, st in procs.items():
            children.setdefault(st[1], []).append(pid)
        ticks, stack = 0, [self.root]
        while stack:
            pid = stack.pop()
            stack += children.get(pid, [])
            if pid not in procs:
                continue
            comm, _, own, reaped, _ = procs[pid]
            ticks += own + reaped
            if comm == "java":
                self._scan_jit(pid)
        return (ticks - sum(self._jit.values())) / _TICK

    def _scan_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            try:
                comm, _, own, _, start = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if "Compiler" in comm:
                key = (pid, tid, start)
                self._jit[key] = max(self._jit.get(key, 0), own)


# -- event log ---------------------------------------------------------------

ENGINE_KEYS = ("jobs", "stages", "tasks", "scheduler_delay_s",
               "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes",
               "python_worker_s", "python_bytes_sent")


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def engine_by_group(event_log_dir: str) -> dict:
    """Per job group id: the ENGINE_KEYS totals of its jobs and tasks,
    read from the uncompressed event log(s) under `event_log_dir`."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "*"),
                                 recursive=True)):
        if os.path.isfile(path) and not path.endswith(".inprogress.tmp"):
            with open(path) as f:
                events += [json.loads(line) for line in f if line.strip()]
    stage_group: dict = {}
    out: dict = {}

    def row(group):
        return out.setdefault(group, dict.fromkeys(ENGINE_KEYS, 0.0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            r = row(group)
            r["jobs"] += 1
            for info in ev.get("Stage Infos", []):
                sid = info["Stage ID"]
                if sid not in stage_group:
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            row(stage_group.get(sid))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            r = row(stage_group.get(ev.get("Stage ID")))
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            r["tasks"] += 1
            wall = (info.get("Finish Time", 0) - info.get("Launch Time", 0))
            run = m.get("Executor Run Time", 0)
            busy = (run + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0))
            r["scheduler_delay_s"] += max(wall - busy, 0) / 1e3
            r["executor_run_s"] += run / 1e3
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            r["python_worker_s"] += _accum(
                info, "time to run Python workers") / 1e3
            r["python_bytes_sent"] += _accum(
                info, "data sent to Python workers")
    return out


def rollup(spans: list, by_id: dict, engine: dict, root_ids: set) -> dict:
    """ENGINE_KEYS totals of every span in the subtrees under `root_ids`,
    each span with the job groups it aliases."""
    total = dict.fromkeys(ENGINE_KEYS, 0.0)
    stack = list(root_ids)
    while stack:
        sid = stack.pop()
        for group in [str(sid), *by_id[sid].groups]:
            for k, v in engine.get(group, {}).items():
                total[k] += v
        stack += by_id[sid].children
    return total
