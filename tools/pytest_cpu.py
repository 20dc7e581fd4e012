"""Opt-in pytest plugin: wall time and process-tree CPU per test.

    python -m pytest tests/ -p tools.pytest_cpu

Run it from the repository root. For each test (setup, call and
teardown together) it takes the wall time and the CPU time of the
pytest process plus every descendant, read from /proc: the JVM that
PySpark starts, its Python worker daemon and the forked workers all
count. Each live process contributes its own user + system time plus
that of its reaped children (cutime/cstime), so a worker that exits
during a test still counts once its parent has reaped it. At the end it
prints the 15 tests with the most CPU.

Caveats: a session-scoped fixture (the SparkSession) bills its start
to the first test that uses it; JVM background threads (JIT, GC) bill
to whichever test runs while they work; only Linux /proc is read.
"""

from __future__ import annotations

import os
import time

import pytest

TOP = 15
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float] | None:
    """(parent pid, user + system CPU seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    rest = raw[raw.rindex(b")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by `root` and all of its descendants so far."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(children.get(pid, ()))
    return total


class CpuPerTest:
    def __init__(self) -> None:
        self.rows: list[tuple[float, float, str]] = []  # (cpu_s, wall_s, nodeid)

    @pytest.hookimpl(hookwrapper=True)
    def pytest_runtest_protocol(self, item, nextitem):
        cpu0, wall0 = tree_cpu_s(os.getpid()), time.perf_counter()
        yield
        self.rows.append((tree_cpu_s(os.getpid()) - cpu0, time.perf_counter() - wall0,
                          item.nodeid))

    def pytest_terminal_summary(self, terminalreporter):
        tr = terminalreporter
        cpu = sum(r[0] for r in self.rows)
        wall = sum(r[1] for r in self.rows)
        tr.write_sep("=", f"process-tree CPU per test (top {TOP} of {len(self.rows)})")
        tr.write_line(f"all tests: {cpu:.1f} CPU-s in {wall:.1f} s wall")
        tr.write_line(f"{'cpu_s':>8} {'wall_s':>8}  test")
        for c, w, nodeid in sorted(self.rows, reverse=True)[:TOP]:
            tr.write_line(f"{c:8.2f} {w:8.2f}  {nodeid}")


def pytest_configure(config):
    config.pluginmanager.register(CpuPerTest(), "cpu-per-test")
