"""Launch one process tree and account for all of it from /proc.

The benchmark process makes itself a child subreaper, so the JVM and the
Python workers that outlive their parent are re-parented to it. Every
process of the tree is then reaped here with `wait4`, whose per-child rusage
covers the child and the descendants it reaped itself: summed, that is the
CPU time of the whole tree, JVM included. `RUSAGE_CHILDREN` of the launched
Python process alone would miss the JVM, which that process never waits for.
Peak memory is sampled from /proc while the tree runs: at each sample the
sum of VmHWM over the live processes, and the largest such sum.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time
from dataclasses import dataclass

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


@dataclass
class TreeRun:
    returncode: int | None
    timed_out: bool
    launched: float  # time.monotonic() just before the launch
    cpu_s: float
    peak_rss_mb: float


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kill_tree() -> None:
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_tree(cmd, *, env, cwd, log_path, timeout_s, sample_s=0.2) -> TreeRun:
    """Run `cmd` and wait until it and every process it started have ended.
    Needs `become_subreaper()` first and no other children of this process."""
    me = os.getpid()
    cpu = 0.0
    peak_kb = 0
    rc = None
    timed_out = False
    with open(log_path, "ab") as log:
        launched = time.monotonic()
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=log)
    deadline = launched + timeout_s
    while True:
        try:
            pid, status, ru = os.wait4(-1, os.WNOHANG)
        except ChildProcessError:
            break  # the whole tree has been reaped
        if pid:
            cpu += ru.ru_utime + ru.ru_stime
            if pid == proc.pid:
                rc = os.waitstatus_to_exitcode(status)
                proc.returncode = rc  # reaped here, not by Popen
            continue
        peak_kb = max(peak_kb, sum(_vmhwm_kb(p) for p in descendants(me)))
        if not timed_out and time.monotonic() > deadline:
            timed_out = True
            _kill_tree()
        time.sleep(sample_s)
    return TreeRun(rc, timed_out, launched, cpu, peak_kb / 1024.0)


def wait_quiet(max_s: float = 8.0, step_s: float = 0.25, tol_mb: float = 32.0) -> None:
    """Wait until free memory stops rising, so that the memory of a JVM that
    just exited has been returned before the next launch."""
    def avail_mb() -> float:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    end = time.monotonic() + max_s
    last, steady = avail_mb(), 0
    while steady < 2 and time.monotonic() < end:
        time.sleep(step_s)
        now = avail_mb()
        steady = steady + 1 if abs(now - last) < tol_mb else 0
        last = now
