"""Readers for /proc: process-tree CPU, proportional set size and host
contention. Linux only; every function takes the root path so tests can
point it at a fake tree."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(text: str) -> list[str]:
    # The command name (field 2) may hold spaces and parentheses; every field
    # after it starts behind the last ')'. The returned list starts at field 3.
    return text[text.rindex(")") + 2 :].split()


def children_map(proc: str = "/proc") -> dict[int, list[int]]:
    """Parent pid -> child pids for every process visible in ``proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                ppid = int(_stat_fields(fh.read())[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all of its descendants."""
    kids = children_map(proc)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def process_cpu_s(pid: int, proc: str = "/proc") -> float:
    """User + system CPU seconds of ``pid`` plus its reaped children."""
    with open(f"{proc}/{pid}/stat") as fh:
        f = _stat_fields(fh.read())
    # fields 14-17 (utime, stime, cutime, cstime) sit at offsets 11-14 here
    return sum(int(x) for x in f[11:15]) / _CLK_TCK


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root`` and every live descendant
    (the Spark JVM and its Python workers), including reaped children."""
    total = 0.0
    for pid in tree_pids(root, proc):
        try:
            total += process_cpu_s(pid, proc)
        except (OSError, ValueError, IndexError):
            continue  # exited between listing and reading
    return total


def jit_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by the live JIT compiler threads of ``root``'s
    tree (JVM threads named "C1/C2 CompilerThread<n>"). A thread that has
    exited drops out of this sum, so the JVM should keep a fixed set of them
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0.0
    for pid in tree_pids(root, proc):
        try:
            tids = os.listdir(f"{proc}/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{proc}/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                with open(f"{proc}/{pid}/task/{tid}/stat") as fh:
                    f = _stat_fields(fh.read())
            except OSError:
                continue
            total += (int(f[11]) + int(f[12])) / _CLK_TCK
    return total


def work_cpu_s(root: int, proc: str = "/proc") -> float:
    """``tree_cpu_s`` less the JIT compiler threads: the CPU spent doing the
    work. Compilation is warm-up that goes on in the background, at a rate
    that differs from run to run, so it is left out of per-operation CPU."""
    return tree_cpu_s(root, proc) - jit_cpu_s(root, proc)


def pss_kb(pid: int, proc: str = "/proc") -> int:
    """Proportional set size of one process, from smaps_rollup."""
    with open(f"{proc}/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    raise ValueError(f"no Pss line for pid {pid}")


def tree_pss_mb(root: int, proc: str = "/proc") -> float:
    """Summed PSS of ``root`` and its descendants, in MiB. PSS shares each
    shared page among the processes mapping it, so the sum never counts a
    page twice."""
    total = 0
    for pid in tree_pids(root, proc):
        try:
            total += pss_kb(pid, proc)
        except (OSError, ValueError):
            continue
    return total / 1024.0


def cpu_times(proc: str = "/proc") -> list[int]:
    """The aggregate 'cpu' line of /proc/stat, in clock ticks."""
    with open(f"{proc}/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two /proc/stat samples that the
    hypervisor stole (the 8th value of the cpu line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user/nice
    return delta[7] / total if total > 0 else 0.0


def cpu_pressure_some_avg10(proc: str = "/proc") -> float | None:
    """The 'some avg10' figure of /proc/pressure/cpu, or None where the
    kernel has no pressure-stall information."""
    try:
        with open(f"{proc}/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    for item in line.split()[1:]:
                        key, _, value = item.partition("=")
                        if key == "avg10":
                            return float(value)
    except OSError:
        return None
    return None


def loadavg_1m(proc: str = "/proc") -> float:
    with open(f"{proc}/loadavg") as fh:
        return float(fh.read().split()[0])
