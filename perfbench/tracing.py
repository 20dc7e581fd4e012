"""Benchmark-side tracing: spans around each call into an engine layer,
Spark event-log attribution by job group, and a meter of the processes
that run a sample.

A span records name, start, end, parent and run id. Spans stay in memory
and are written out once, at the end of a traced run. While a span is
open its name is the Spark job group, so the event log attributes every
job (and its stages and tasks) to the innermost open span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    """Collects spans; a disabled tracer is a no-op (the untraced runs)."""

    def __init__(self, run_id: str, sc=None, enabled: bool = False):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start: float, end: float):
    """The parts of the intervals that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


# ---------------------------------------------------------------- event log

_PY_TIME = "time to run Python workers"
_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


class EventLog:
    """The parts of one uncompressed Spark event log the layer split needs."""

    def __init__(self, lines):
        self.jobs: list[tuple] = []  # (group, start_s, end_s)
        self.tasks: list[dict] = []
        self.acc: dict[int, float] = {}  # SQL accumulator id -> total
        self.plans: dict[int, dict] = {}  # execution id -> latest plan tree
        self.exec_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        job_start: dict[int, tuple] = {}
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_start[e["Job ID"]] = (group, e["Submission Time"] / 1000.0)
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                group, start = job_start.pop(e["Job ID"], (None, None))
                if start is not None:
                    self.jobs.append((group, start, e["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                self._task(e, stage_group.get(e["Stage ID"]))
            elif kind.endswith("SQLExecutionStart"):
                self.exec_group[e["executionId"]] = e.get("jobGroupId")
                self.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                self.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    self.acc[acc_id] = self.acc.get(acc_id, 0) + value

    def _task(self, e: dict, group) -> None:
        m = e.get("Task Metrics") or {}
        if e["Task End Reason"]["Reason"] != "Success" or not m:
            return
        named: dict[str, float] = {}
        for a in e["Task Info"].get("Accumulables", []):
            upd = a.get("Update")
            if not isinstance(upd, (int, float)) or isinstance(upd, bool):
                try:
                    upd = float(upd)
                except (TypeError, ValueError):
                    continue
            self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + upd
            named[a.get("Name") or ""] = named.get(a.get("Name") or "", 0) + upd
        self.tasks.append({
            "group": group, "stage": e["Stage ID"],
            "run_s": m["Executor Run Time"] / 1e3,
            "cpu_s": m["Executor CPU Time"] / 1e9,
            "gc_s": m["JVM GC Time"] / 1e3,
            "shuffle_mb": m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6,
            "spill_mb": m["Disk Bytes Spilled"] / 1e6,
            "python_s": named.get(_PY_TIME, 0) / 1e3,
            "arrow_in_mb": named.get(_PY_IN, 0) / 1e6,
            "arrow_out_mb": named.get(_PY_OUT, 0) / 1e6,
        })

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as fh:
            return cls(fh)

    def job_intervals(self, group: str) -> list[tuple]:
        return [(s, e) for g, s, e in self.jobs if g == group]

    def task_totals(self, group: str) -> dict[str, float]:
        tasks = [t for t in self.tasks if t["group"] == group]
        out = {k: sum(t[k] for t in tasks)
               for k in ("cpu_s", "python_s", "arrow_in_mb", "arrow_out_mb",
                         "gc_s", "shuffle_mb", "spill_mb")}
        out["task_max_over_median"] = dominant_stage_skew(tasks)
        return out

    def rows(self, node: dict) -> float:
        """'number of output rows' of one plan node (0 if it has none)."""
        for m in node["metrics"]:
            if m["name"] == "number of output rows":
                return self.acc.get(m["accumulatorId"], 0)
        return 0

    def group_plans(self, group: str) -> list[dict]:
        return [p for x, p in sorted(self.plans.items()) if self.exec_group.get(x) == group]


def dominant_stage_skew(tasks: list[dict]) -> float:
    """max / median task run time in the stage with the most task time
    (1.0 when tasks are balanced; 0 when there are no tasks)."""
    by_stage: dict[int, list] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = median(runs)
    return max(runs) / med if med > 0 else 1.0


def walk(node: dict):
    yield node
    for child in node["children"]:
        yield from walk(child)


def find(node: dict, name: str):
    return next((n for n in walk(node) if n["nodeName"] == name), None)


def first_with_rows(node):
    """The node itself or its first descendant along first children that
    reports output rows: the rows a parent operator consumed."""
    while node is not None:
        if any(m["name"] == "number of output rows" for m in node["metrics"]):
            return node
        node = node["children"][0] if node["children"] else None
    return None


# ------------------------------------------------- processes of a sample

def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, so
    that [1] is the parent pid and [11:15] utime, stime, cutime, cstime."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def _tree(root_pid: int, stats: dict[int, list[str]]) -> list[int]:
    """root_pid and all its descendants."""
    children: dict[int, list] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier += children.get(pid, [])
    return out


def _jit_ticks(pid: int) -> dict[str, int]:
    """Thread id -> CPU ticks of each live JIT compiler thread of a JVM
    ("C1/C2 CompilerThre")."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("("):stat.rindex(")")]:
            out[tid] = sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return out


def jit_delta(before: dict[str, int], after: dict[str, int]) -> int:
    """Ticks the JIT compiler threads of `after` spent since `before`.

    The JVM starts and ends compiler threads as the compile queue grows
    and shrinks, so each thread counts from its own earlier reading (from
    0 if it is new). A thread that ended in between is not counted: its
    ticks stay in the process total, and subtracting a total of live
    threads would have taken its whole lifetime off that total."""
    total = 0
    for tid, t in after.items():
        t0 = before.get(tid, 0)
        total += t - t0 if t >= t0 else t  # a smaller count: the id was reused
    return total


def _host_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return sum(ticks), ticks[7]


class Meter:
    """Measures the timed part of a sample: wall time; CPU seconds of the
    engine's processes (this driver process, the driver JVM and the Python
    workers it forks, reaped children included), less the JVM's JIT
    compiler threads, whose work fades as the JVM warms up; the share of
    host CPU time a hypervisor stole meanwhile; and peak resident memory.

    Peak memory is read from each process's high-water mark (VmHWM), so
    nothing polls during the sample: start() clears the marks (where the
    kernel refuses, a mark counts from process start), and the marks are
    summed, which overstates the tree's peak when its processes peak at
    different moments."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._hz = os.sysconf("SC_CLK_TCK")

    def _cpu_s(self, stats) -> float:
        ticks = sum(sum(int(x) for x in stats[pid][11:15])
                    for pid in _tree(self.root_pid, stats) if pid in stats)
        own = os.times()
        return ticks / self._hz + own.user + own.system

    def start(self) -> None:
        stats = _proc_stats()
        for pid in _tree(self.root_pid, stats):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        self._cpu0 = self._cpu_s(stats)
        self._jit0 = _jit_ticks(self.root_pid)
        self._host0 = _host_ticks()
        self._t0 = time.perf_counter()

    def lap(self) -> float:
        """Wall seconds since start()."""
        return time.perf_counter() - self._t0

    def stop(self) -> None:
        self.wall_s = self.lap()
        host = _host_ticks()
        stats = _proc_stats()
        jit = jit_delta(self._jit0, _jit_ticks(self.root_pid))
        self.cpu_s = self._cpu_s(stats) - self._cpu0 - jit / self._hz
        self.steal_frac = (host[1] - self._host0[1]) / max(host[0] - self._host0[0], 1)
        kb = 0
        for pid in _tree(self.root_pid, stats):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0)
            except OSError:
                pass
        self.peak_rss_mb = kb * 1024 / 1e6
