"""Process-tree CPU and memory, and host steal, read from ``/proc``.

CPU seconds of a process exclude the time the hypervisor stole from
it, so CPU per op stays put when wall time swings with steal. The
tree is this process and every descendant: the Spark JVM and the
Python workers it forks. A descendant that exits is charged to the
parent that reaps it (``cutime``/``cstime``), so tree totals never
lose time.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line. The command name sits in
    parentheses and may itself hold spaces or parentheses."""
    head, _, rest = text.rpartition(")")
    pid, _, comm = head.partition(" (")
    f = rest.split()
    return {
        "pid": int(pid),
        "comm": comm,
        "ppid": int(f[1]),
        "cpu_s": (int(f[11]) + int(f[12])) / CLK_TCK,
        "child_cpu_s": (int(f[13]) + int(f[14])) / CLK_TCK,
    }


def parse_steal(text: str) -> float:
    """Host-wide steal seconds from the ``cpu`` line of ``/proc/stat``."""
    for line in text.splitlines():
        if line.startswith("cpu "):
            return int(line.split()[8]) / CLK_TCK
    raise ValueError("no aggregate cpu line in /proc/stat")


def read_steal(root: str = "/proc") -> float:
    with open(f"{root}/stat") as fh:
        return parse_steal(fh.read())


def _read_all(root: str) -> list[dict]:
    out = []
    for name in os.listdir(root):
        if not name.isdigit():
            continue
        try:
            with open(f"{root}/{name}/stat") as fh:
                out.append(parse_stat(fh.read()))
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between the listing and the read
    return out


def tree(procs: list[dict], root_pid: int) -> list[dict]:
    """``root_pid`` and all its descendants, each tagged with a role:
    ``driver`` (the root), ``jvm`` (a java process) or ``pyworker``
    (anything below a JVM, i.e. Spark's Python workers), else ``other``."""
    kids: dict[int, list[dict]] = {}
    by_pid = {}
    for p in procs:
        kids.setdefault(p["ppid"], []).append(p)
        by_pid[p["pid"]] = p
    if root_pid not in by_pid:
        return []
    out = []
    stack = [(by_pid[root_pid], "driver")]
    while stack:
        p, role = stack.pop()
        out.append({**p, "role": role})
        for c in kids.get(p["pid"], ()):
            if c["comm"] == "java":
                child_role = "jvm"
            elif role in ("jvm", "pyworker"):
                child_role = "pyworker"
            else:
                child_role = "other"
            stack.append((c, child_role))
    return out


def cpu_split(members: list[dict]) -> dict[str, float]:
    """CPU seconds by role, each process's own time plus the time of
    the children it reaped."""
    split = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for p in members:
        split[p["role"]] += p["cpu_s"] + p["child_cpu_s"]
    return split


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pid: int, proc_root: str = "/proc") -> float:
    """CPU seconds of a JVM's JIT compiler threads. They compile in the
    background, so how much of their work lands in a window depends on
    the window's wall length, not on the ops run in it. The JVM must run
    with ``-XX:-UseDynamicNumberOfCompilerThreads``: a compiler thread
    that exits takes its count with it."""
    total = 0.0
    try:
        tids = os.listdir(f"{proc_root}/{pid}/task")
    except FileNotFoundError:
        return 0.0
    for tid in tids:
        try:
            with open(f"{proc_root}/{pid}/task/{tid}/stat") as fh:
                st = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue
        if st["comm"].startswith(JIT_THREADS):
            total += st["cpu_s"]
    return total


def members(root_pid: int, proc_root: str = "/proc") -> list[dict]:
    """The tree of ``root_pid`` as it is now, roles tagged."""
    return tree(_read_all(proc_root), root_pid)


def snapshot(root_pid: int, proc_root: str = "/proc") -> dict[str, float]:
    """CPU seconds of the tree by role, plus ``jit``: the JIT compiler
    threads' part of the ``jvm`` figure. Read at the edges of a phase
    only, so the benchmark runs no sampler of its own while it times."""
    ms = members(root_pid, proc_root)
    split = cpu_split(ms)
    split["jit"] = sum(jit_cpu_s(p["pid"], proc_root) for p in ms if p["role"] == "jvm")
    return split


def parse_hwm_kb(text: str) -> int:
    """Peak resident memory (``VmHWM``) from a ``/proc/<pid>/status``."""
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0  # kernel threads and zombies have no memory lines


def peak_rss_kb(root_pid: int, proc_root: str = "/proc") -> int:
    """Sum over the tree's live members of each one's own peak resident
    memory. The peaks need not have coincided, and forked workers share
    pages, so this is an upper bound on the tree's peak."""
    total = 0
    for p in members(root_pid, proc_root):
        try:
            with open(f"{proc_root}/{p['pid']}/status") as fh:
                total += parse_hwm_kb(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


def _running(pid: int, proc_root: str) -> bool:
    try:
        with open(f"{proc_root}/{pid}/stat") as fh:
            return fh.read().rpartition(")")[2].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def wait_gone(pids: list[int], timeout_s: float, proc_root: str = "/proc") -> list[int]:
    """Wait until none of ``pids`` runs (exited, or a zombie awaiting
    its reaper); return those still running at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _running(p, proc_root)]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return alive
