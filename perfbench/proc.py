"""Process-tree measurements read from /proc."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
# JIT compilation is the JVM warming itself up, not work of the program;
# its threads are named like this (thread names are cut at 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _jit_s(pid: int) -> float:
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if name in JIT_THREADS:
            total += (int(fields[11]) + int(fields[12])) / TICK
    return total


def _processes() -> dict[int, tuple[str, list[str]]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                out[int(d)] = _stat(f"/proc/{d}/stat")
            except OSError:  # the process ended while /proc was listed
                pass
    return out


def _tree(procs: dict, root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root_pid: int | None = None) -> list[int]:
    """Live descendants of a process (default: this one)."""
    root_pid = root_pid or os.getpid()
    return [p for p in _tree(_processes(), root_pid) if p != root_pid]


def running(pid: int) -> bool:
    """The process exists and has not exited (a zombie has)."""
    try:
        return _stat(f"/proc/{pid}/stat")[1][0] != "Z"
    except OSError:
        return False


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far: the time the
    host ran other guests on our CPUs, and all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return fields[7], sum(fields[:8])


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time stolen by the host since `host_cpu_ticks()`
    returned `since`, in percent."""
    steal, total = host_cpu_ticks()
    return 100.0 * (steal - since[0]) / max(1, total - since[1])


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User + system CPU seconds used so far by a process and its
    descendants (here the benchmark's Python process, its JVM and the JVM's Python
    workers), less the JVM's JIT compiler threads. Reaped children count
    through their parent's cumulative child time, so the total never
    drops when a worker exits. Unlike wall time, it does not grow while
    the host runs other guests on our CPUs."""
    procs = _processes()
    total = 0.0
    for pid in _tree(procs, root_pid or os.getpid()):
        if pid not in procs:
            continue
        name, fields = procs[pid]
        total += sum(int(x) for x in fields[11:15]) / TICK
        if name == "java":
            total -= _jit_s(pid)
    return total
