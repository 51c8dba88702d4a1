"""CPU time and peak RSS of the Python process and the Spark JVM, from /proc.

CPU is split three ways, because two parts of it are dominated by
run-to-run accidents rather than by the work done: the JIT compiler
threads (in a JVM that is seconds old this is warm-up) and the processes
the JVM forks, the Python workers (a fork pays a full interpreter and
import start-up, and how many forks happen depends on Spark's worker
reuse). Together they moved the per-op CPU of identical CRUD passes
between 0.3 and 2.1 s. The runner starts the JVM with a fixed set of
compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``), so they
live for the whole run and their CPU can be read per thread.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def _cpu_s(fields: list[str], reaped_children: bool) -> float:
    # utime, stime, cutime, cstime are fields 14..17 (1-based) of the line.
    return sum(int(x) for x in fields[11:15 if reaped_children else 13]) / _TICK


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def alive(pid: int) -> bool:
    """Running or sleeping: not gone and not a zombie awaiting its reaper."""
    try:
        return _stat_fields(f"/proc/{pid}/stat")[1][0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    out, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def tree_cpu_s(pid: int) -> float:
    total, stack = 0.0, [pid]
    while stack:
        p = stack.pop()
        try:
            total += _cpu_s(_stat_fields(f"/proc/{p}/stat")[1], True)
        except OSError:
            continue
        stack.extend(_children(p))
    return total


def jit_cpu_s(pid: int) -> float:
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in name:
            total += _cpu_s(fields, False)
    return total


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class ProcStat:
    def __init__(self, jvm_pid: int):
        self.py_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        """CPU-seconds so far: Python, JVM threads without JIT, JIT, and
        the JVM's child processes (live or reaped)."""
        jit = jit_cpu_s(self.jvm_pid)
        jvm_fields = _stat_fields(f"/proc/{self.jvm_pid}/stat")[1]
        jvm_self = _cpu_s(jvm_fields, False)
        return {
            # The Python process's own time only: the JVM is its (unreaped) child.
            "py": _cpu_s(_stat_fields(f"/proc/{self.py_pid}/stat")[1], False),
            "jvm": jvm_self - jit,
            "jit": jit,
            "workers": tree_cpu_s(self.jvm_pid) - jvm_self,
        }

    def reset_peaks(self) -> None:
        """Restart both processes' peak-RSS (VmHWM) count from their current
        RSS, so the peak read later belongs to the timed ops alone and not
        to set-up or the benchmark's own DuckDB checks."""
        for pid in (self.py_pid, self.jvm_pid):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def rss(self) -> tuple[float, float]:
        return peak_rss_mb(self.py_pid), peak_rss_mb(self.jvm_pid)
