"""Process-tree CPU, memory and host-contention readings from /proc.

CPU of a tree: every live or zombie process in it contributes its own
utime+stime plus cutime+cstime, the CPU of the children it has already
reaped. A child is either still in /proc (counted by its own line) or
reaped (counted once, in its parent's cutime), so no tick is counted twice
and none is lost while its parent lives. Orphans would leave the tree, so
the runner makes itself a child subreaper: orphaned descendants are
re-parented to it and stay in the tree.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
CLASSES = ("driver", "jvm", "workers")
_PR_SET_CHILD_SUBREAPER = 36


def snapshot(proc: str = "/proc") -> dict:
    """{pid: (ppid, comm, cpu_s)} for every readable process; cpu_s is
    utime+stime+cutime+cstime."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                line = f.read()
        except OSError:
            continue  # exited between listdir and open
        out[int(name)] = parse_stat(line)
    return out


def parse_stat(line: str) -> tuple:
    """(ppid, comm, cpu_s) from one /proc/<pid>/stat line. comm may hold
    spaces and parentheses, so split after its last ')'."""
    comm = line[line.index("(") + 1 : line.rindex(")")]
    f = line[line.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), comm, ticks / CLK_TCK


def tree_cpu(snap: dict, root: int, jvm_pid: int | None) -> dict:
    """CPU-seconds of ``root``'s process tree split into driver, jvm and
    workers, plus their total. The JVM is the process ``jvm_pid``;
    workers are everything below it; the rest of the tree is driver."""
    children: dict = {}
    for pid, (ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out = dict.fromkeys(CLASSES, 0.0)
    stack = [(root, "driver")]
    while stack:
        pid, cls = stack.pop()
        if pid not in snap:
            continue
        if pid == jvm_pid:
            cls = "jvm"
        out[cls] += snap[pid][2]
        below = "workers" if cls != "driver" else "driver"
        stack.extend((c, below) for c in children.get(pid, ()))
    out["total"] = sum(out[c] for c in CLASSES)
    return out


def descendants(root: int, snap: dict | None = None) -> list[int]:
    snap = snapshot() if snap is None else snap
    children: dict = {}
    for pid, (ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def hwm_mb(pid: int) -> float | None:
    """Peak resident set (VmHWM) of one process in MB, None if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def reset_hwm(pid: int) -> bool:
    """Reset a process's VmHWM to its current RSS (Linux clear_refs 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


class PeakRss:
    """Summed high-water mark of the driver and the Python workers: the
    largest VmHWM seen for each pid, summed over pids."""

    def __init__(self, root: int):
        self.root = root
        self.peak: dict = {}

    def sample(self, jvm_pid: int | None) -> None:
        snap = snapshot()
        pids = [self.root]
        if jvm_pid is not None:
            pids += descendants(jvm_pid, snap)
        for pid in pids:
            v = hwm_mb(pid)
            if v is not None:
                self.peak[pid] = max(self.peak.get(pid, 0.0), v)

    def total_mb(self) -> float:
        return sum(self.peak.values())


def steal_s() -> float:
    """Host-wide hypervisor steal so far, CPU-seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def burn_s(rounds: int = 1500) -> float:
    """Wall seconds of a fixed single-thread numpy workload; it rises when
    the host is contended."""
    import numpy as np

    x = np.arange(1_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(rounds):
        s += float(x @ x)
    if not s > 0:
        raise RuntimeError("burn produced no work")
    return time.perf_counter() - t0


def become_subreaper() -> bool:
    """Keep orphaned descendants in this process's tree (Linux)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def reap() -> None:
    """Collect every exited child, so no zombie outlives the run."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_tree(root: int, grace_s: float = 5.0) -> list[dict]:
    """SIGTERM, then SIGKILL, every descendant of ``root``; wait until all
    have ended. Returns the processes that had to be signalled."""
    snap = snapshot()
    left = descendants(root, snap)
    killed = [{"pid": p, "comm": snap[p][1]} for p in left if p in snap]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            reap()
            left = descendants(root)
            if not left:
                return killed
            time.sleep(0.05)
    reap()
    return killed
