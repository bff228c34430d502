"""CPU time and resident memory of the benchmark's process tree, from /proc.

The tree is the driver Python process, the JVM it launches, and the
PySpark worker daemon with its forked workers under the JVM.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it start at index 2.
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[-1]] + rest.split()


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                out[int(entry)] = int(st[2])
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and has not yet exited (a zombie has)."""
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def end_all(pids: list[int], grace_s: float = 20.0) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit, then SIGKILL the rest
    and wait until every one has ended."""
    deadline = time.monotonic() + grace_s
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in pids:
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    while any(alive(p) for p in pids):
        time.sleep(0.05)


def comm(pid: int) -> str:
    st = _stat(pid)
    return st[0] if st else ""


def cpu_s(pid: int, reaped_children: bool = False) -> float:
    """User + system CPU seconds of ``pid`` (plus its reaped children's)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[12]) + int(st[13])
    if reaped_children:
        ticks += int(st[14]) + int(st[15])
    return ticks / _TICK


def jvm_pid(root: int) -> int | None:
    for pid in descendants(root):
        if comm(pid) == "java":
            return pid
    return None


def tree_cpu(root: int) -> tuple[float, float, float]:
    """``(driver, jvm, python workers)`` CPU seconds.

    Workers are every process below the JVM; their reaped children's time
    is included, so a worker that exits between two readings is not lost.
    """
    driver = cpu_s(root)
    jvm = jvm_pid(root)
    if jvm is None:
        return driver, 0.0, 0.0
    workers = sum(cpu_s(p, reaped_children=True) for p in descendants(jvm))
    return driver, cpu_s(jvm), workers


def reset_peak_rss(root: int) -> None:
    """Restart the peak resident set (VmHWM) of ``root`` and its live
    descendants at their current resident set (``clear_refs`` value 5)."""
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of the driver ``root``, its JVM and the
    processes below the JVM, since they started or since ``reset_peak_rss``."""
    jvm = jvm_pid(root)
    return {"driver": _hwm_mb(root),
            "jvm": _hwm_mb(jvm) if jvm else 0.0,
            "workers": sum(_hwm_mb(p) for p in descendants(jvm)) if jvm else 0.0}


def host_cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])
