"""Host facts read from /proc: CPU count, steal time, peak resident memory,
and the processes a run started."""

from __future__ import annotations

import os
import signal
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two :func:`cpu_times` readings that
    the hypervisor gave to other guests."""
    # guest and guest_nice (fields 9, 10) are already counted in user/nice
    delta = [a - b for a, b in zip(after[:8], before[:8])]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else 0.0


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> tuple[float, float, float]:
    """(JVM + largest Python worker, JVM, largest Python worker) peak
    resident memory (VmHWM) in MiB."""
    jvm = _status_kb(jvm_pid, "VmHWM") / 1024.0
    py = max((_status_kb(p, "VmHWM") for p in descendants(jvm_pid)), default=0) / 1024.0
    return jvm + py, jvm, py


def tagged_pids(tag: str) -> list[int]:
    """Processes whose environment carries ``PERFBENCH_RUN=<tag>``: every
    process this run started, directly or not, including orphans."""
    needle = f"PERFBENCH_RUN={tag}".encode()
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return out


def reap(tag: str, grace_s: float = 20.0) -> list[int]:
    """Wait for every process of this run to end; after ``grace_s`` send
    SIGKILL to what is left and wait again.  Returns the pids killed."""
    deadline = time.monotonic() + grace_s
    while tagged_pids(tag) and time.monotonic() < deadline:
        time.sleep(0.2)
    killed = tagged_pids(tag)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while tagged_pids(tag) and time.monotonic() < deadline:
        time.sleep(0.1)
    return killed
