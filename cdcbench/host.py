"""Host fingerprint recorded next to every result: core count, load
average, CPU steal share, and two short single-process controls in the style of
``scripts/membw_control.py`` (a STREAM triad for memory bandwidth and an
L1-resident integer loop for the ALU). A co-tenant contention episode
shows up here beside the numbers it distorted."""

from __future__ import annotations

import os
import time

import numpy as np

TRIAD_N = 4_000_000  # 3 x 32 MB: far beyond any L3 slice
ALU_N = 4_096  # 32 KB: L1-resident


def cores() -> int:
    return len(os.sched_getaffinity(0))

def _triad_gbps(secs: float) -> float:
    b = np.ones(TRIAD_N)
    c = np.ones(TRIAD_N)
    a = np.zeros(TRIAD_N)
    t0 = time.perf_counter()
    passes = 0
    while time.perf_counter() - t0 < secs:
        np.multiply(c, 3.0, out=a)
        np.add(a, b, out=a)
        passes += 1
    return passes * 3 * 8 * TRIAD_N / (time.perf_counter() - t0) / 1e9


def _alu_gops(secs: float) -> float:
    acc = np.arange(ALU_N, dtype=np.uint64)
    mix = np.uint64(0x9E3779B97F4A7C15)
    sh = np.uint64(13)
    t0 = time.perf_counter()
    iters = 0
    while time.perf_counter() - t0 < secs:
        acc = (acc * mix) ^ (acc >> sh)
        acc = acc + np.roll(acc, 1)
        iters += 1
    return iters * ALU_N / (time.perf_counter() - t0) / 1e9


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: on a virtual machine, steal is
    time the hypervisor ran someone else while this guest wanted a CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


_CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads (comm is cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file, or None when the
    process or thread has exited."""
    try:
        with open(path) as f:
            s = f.read()
        return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()
    except (OSError, ValueError):
        return None


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a process's live JIT compiler threads."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and st[0] in _JIT_THREADS:
            total += int(st[1][11]) + int(st[1][12])
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every descendant (the JVM, its Python workers),
    less the JVM's JIT compiler threads. Time the hypervisor gave to
    another guest (steal) is not in it. JIT compilation is the JVM
    warming up, not work the engine asked for; it runs on its own threads
    for minutes after start and varies from run to run (the run keeps
    those threads alive: -XX:-UseDynamicNumberOfCompilerThreads)."""
    root = os.getpid() if root is None else root
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(f"/proc/{d}/stat")
            if st:
                # [1] is ppid; [11:15] utime, stime, cutime, cstime
                stats[int(d)] = (int(st[1][1]), sum(int(x) for x in st[1][11:15]), st[0])
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            if stats[pid][2] == "java":
                total -= _jit_ticks(pid)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def wait_idle(max_s: float = 1.0, window_s: float = 0.1, busy_cores: float = 0.2) -> None:
    """Return once this process tree used under ``busy_cores`` CPUs over
    one ``window_s`` window, or after ``max_s``."""
    deadline = time.perf_counter() + max_s
    c0 = tree_cpu_s()
    while time.perf_counter() < deadline:
        time.sleep(window_s)
        c1 = tree_cpu_s()
        if c1 - c0 < busy_cores * window_s:
            return
        c0 = c1


def steal_share(since: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


def fingerprint(secs: float = 0.3) -> dict:
    return {
        "nproc": cores(),
        "loadavg_1m": os.getloadavg()[0],
        "triad_gbps": round(_triad_gbps(secs), 3),
        "alu_gops": round(_alu_gops(secs), 4),
    }
