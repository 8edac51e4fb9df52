"""Process-tree memory and shutdown, from /proc (no psutil).

The benchmark's memory is its own Python process plus the Spark JVM it
launches plus that JVM's Python workers: the process tree rooted here.
The Python processes are counted as proportional set size (Pss): the
workers are forked from one daemon and share its pages copy-on-write,
which a sum of RSS would count once per worker.  The JVM shares almost
nothing, so its RSS stands for its Pss, which would cost a walk of its
whole page table to read.
"""

from __future__ import annotations

import os
import time


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; ppid is the 2nd field after it
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree(root: int) -> list[tuple[int, int]]:
    """(pid, depth) of root (depth 0) and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [(root, 0)]
    while stack:
        pid, depth = stack.pop()
        out.append((pid, depth))
        stack.extend((k, depth + 1) for k in kids.get(pid, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _status_bytes(pid: int, key: str) -> int:
    """A ``/proc/<pid>/status`` memory field (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def footprint(root: int) -> dict[str, int]:
    """Bytes the tree holds now: ``driver`` (the root), ``jvm`` (its
    children), ``workers`` (deeper descendants), and ``jvm_peak``, the
    JVM's peak RSS so far."""
    out = dict.fromkeys(("driver", "jvm", "workers", "jvm_peak"), 0)
    for pid, depth in tree(root):
        if depth == 1:
            out["jvm"] += _status_bytes(pid, "VmRSS")
            out["jvm_peak"] += _status_bytes(pid, "VmHWM")
        else:
            out["driver" if depth == 0 else "workers"] += pss_bytes(pid)
    return out


def stop_gateway(timeout: float = 30.0) -> None:
    """Shut the Spark JVM down and wait until it and every process it
    started have exited (killing any that outlive ``timeout``)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    pids = [p for p, depth in tree(proc.pid) if depth]
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
