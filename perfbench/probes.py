"""Measurements taken from outside the engine.

Everything here reads state the engine already exposes: ``/proc`` for
CPU time and hypervisor steal, the JVM's management beans for GC time,
``SparkContext.statusTracker()`` for job, stage and task counts, the
Spark event log for per-task metrics, and the file system for bytes
written. Nothing here changes what a query does.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1_000_000


# ---------------------------------------------------------------------------
# CPU time of the process tree (/proc)


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, own CPU s, reaped children's CPU s) for every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        table[int(entry)] = (
            int(fields[1]),
            (utime + stime) / _TICK,
            (cutime + cstime) / _TICK,
        )
    return table


def descendants(pid: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for p, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of the driver (this Python process), the
    JVM and the JVM's Python workers. A worker that exits is reaped by
    its parent, so its time moves into the parent's children-time and
    the sum stays monotone."""
    table = _proc_table()
    jvm = table.get(jvm_pid, (0, 0.0, 0.0))
    workers = jvm[2] + sum(table[p][1] + table[p][2] for p in descendants(jvm_pid, table))
    return {"driver": table[os.getpid()][1], "jvm": jvm[1], "workers": workers}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        stat = f.read()
    return uptime - int(stat[stat.rfind(")") + 2 :].split()[19]) / _TICK


def steal_s() -> float:
    """Cumulative hypervisor steal over all CPUs of the host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


# ---------------------------------------------------------------------------
# Spark work counts (status tracker)


def job_counts(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) launched under the job groups.

    Skipped stages (shuffle output reused) complete no task and are not
    counted. Read right after the pass, well inside the tracker's
    retention of 1000 jobs."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    seen = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = None if sid in seen else tracker.getStageInfo(sid)
                seen.add(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
    return jobs, stages, tasks


# ---------------------------------------------------------------------------
# Files


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def tree_state(path: str) -> dict[str, tuple[int, int]]:
    """file -> (size, mtime_ns), to detect tables rewritten in between."""
    state = {}
    for root, _, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            state[p] = (st.st_size, st.st_mtime_ns)
    return state


def rewritten_tables(before: dict, after: dict) -> int:
    """Directories holding a file that is new or changed."""
    return len({os.path.dirname(p) for p, v in after.items() if before.get(p) != v})


# ---------------------------------------------------------------------------
# Spans


class Spans:
    """Named, nested time intervals. Every span is timed (the benchmark
    needs the durations either way); they are kept for the trace file
    only when ``keep`` is set."""

    def __init__(self, run_id: str, keep: bool):
        self.run_id = run_id
        self.keep = keep
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"run_id": self.run_id, "id": sid, "parent": parent, "name": name}
        rec.update(attrs)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.keep:
                self.records.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.records, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# Event log (traced run only)


def event_log_by_pass(path: str, pass_of_group) -> dict[int, dict[str, float]]:
    """Sum task metrics of an uncompressed Spark event log per pass.

    ``pass_of_group`` maps a job group id to a pass number, or None for
    jobs outside the timed passes."""
    stage_pass: dict[int, int] = {}
    sums: dict[int, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                p = pass_of_group(group) if group else None
                if p is not None:
                    for sid in ev.get("Stage IDs", ()):
                        stage_pass.setdefault(sid, p)
            elif kind == "SparkListenerTaskEnd":
                p = stage_pass.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if p is None or not m:
                    continue
                s = sums.setdefault(
                    p,
                    {"shuffle_write": 0, "shuffle_read": 0, "spill": 0, "run_ms": 0, "cpu_ns": 0},
                )
                rd = m.get("Shuffle Read Metrics", {})
                s["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                s["spill"] += m.get("Disk Bytes Spilled", 0)
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
    return sums
