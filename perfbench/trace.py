"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into the program,
never inside it: name, start, end, parent span and request id, kept in
memory and written out when the run ends.  A span opened with
``spark=True`` also runs its calls in a Spark job group of its own (counted
through ``statusTracker()`` afterwards) and counts the py4j calls made
while it is open.  Per-stage task CPU, shuffle, spill and GC time come from
Spark's event log, parsed after the session stops.

With tracing off, ``NullTracer`` stands in and records nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time


class Py4jCounter:
    """Counts commands sent through the py4j gateway client."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.n = 0

        def send_command(*args, **kwargs):
            with self._lock:
                self.n += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class NullTracer:
    enabled = False

    def span(self, name, req=None, spark=False):
        return contextlib.nullcontext()

    def close(self):
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter(self.sc)
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, req=None, spark: bool = False):
        sid = next(self._ids)
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": sid, "name": name, "req": req,
            "parent": stack[-1]["id"] if stack else None,
        }
        group = f"pb-{sid}-{name}"
        if spark:
            self.sc.setJobGroup(group, name)
            rec["py4j0"] = self.py4j.n
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if spark:
                rec["py4j"] = self.py4j.n - rec.pop("py4j0")
                rec["group"] = group
                # status-tracker calls are py4j calls too: read after the
                # count is taken
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(rec, group)
            self.spans.append(rec)

    def _count_jobs(self, rec: dict, group: str) -> None:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        rec["jobs"] = len(jobs)
        rec["tasks"] = tasks

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def close(self) -> None:
        self.py4j.close()


def dur_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


def event_log_stats(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, task CPU (JVM executor CPU; Python
    worker CPU is not in Spark's task metrics), shuffle write, spill, GC,
    and task skew (max / median task time in the group's widest stage)."""
    # Spark 4 writes a rolling log: a directory of events_* files
    files = sorted(
        os.path.join(d, f) for d, _dirs, fs in os.walk(log_dir) for f in fs
        if not f.startswith(("appstatus", "."))
    )
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    for s in ev.get("Stage IDs", ()):
                        stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    agg = out.setdefault(
                        g,
                        {"tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0,
                         "spill_bytes": 0, "gc_s": 0.0},
                    )
                    agg["tasks"] += 1
                    agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    agg["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    stage_tasks.setdefault(ev["Stage ID"], []).append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                        / 1e3
                    )
    for g, agg in out.items():
        agg["jobs"] = sum(1 for j, jg in job_group.items() if jg == g)
        stages = [s for s, sg in stage_group.items() if sg == g and s in stage_tasks]
        if stages:
            widest = max(stages, key=lambda s: len(stage_tasks[s]))
            t = stage_tasks[widest]
            med = statistics.median(t)
            agg["task_skew"] = max(t) / med if med > 0 else 1.0
        else:
            agg["task_skew"] = 1.0
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_s(stat: str) -> "tuple[str, list[str], float]":
    """(name, fields after the name, user + system seconds incl. reaped
    children) of one /proc stat line."""
    fields = stat[stat.rindex(")") + 2:].split()
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    return name, fields, sum(int(x) for x in fields[11:15]) / _TICK


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads.  The session starts
    with a fixed set of them (``-XX:-UseDynamicNumberOfCompilerThreads``),
    so none exits and takes its count out of this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                name, fields, _cpu = _cpu_s(f.read())
        except OSError:
            continue
        if name.startswith(_JIT_THREADS):
            # the thread's own user + system time; the children's fields
            # of a thread's stat are the whole process's
            total += int(fields[11]) + int(fields[12])
    return total / _TICK


def tree_cpu_s(jvm: bool = True) -> float:
    """CPU seconds (user + system, own and reaped children) of this process
    and every live descendant: the JVM and its Python workers (unless
    ``jvm`` is false), the query-service replicas.  The JVM's JIT compiler
    threads are left out: how much they compile depends on what the JVM
    ran before and on how long ago, not on the work being timed.  Time a
    shared host's hypervisor gives to other guests (steal) is not in it,
    unlike wall time."""
    root = os.getpid()
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    java: set[int] = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                name, fields, cpu[int(d)] = _cpu_s(f.read())
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        if name == "java":
            java.add(int(d))
    total, todo = 0.0, [root]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in java:
            if not jvm:
                continue
            total -= _jit_cpu_s(pid)
        total += cpu.get(pid, 0.0)
        todo.extend(kids.get(pid, ()))
    return total


def host_steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]
