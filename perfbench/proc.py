"""CPU time and peak resident memory of this process and the Spark JVM, read
from ``/proc`` (Linux only)."""

from __future__ import annotations

import os
import signal
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return kids


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``."""
    out = []
    for kid in _children(pid):
        out.append(kid)
        try:
            out.extend(descendants(kid))
        except FileNotFoundError:
            continue
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited process awaiting its reaper is
    not alive)."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except FileNotFoundError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` runs any more; after ``timeout_s`` kill
    the rest and wait once more."""
    for last in (False, True):
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            alive = [p for p in pids if _alive(p)]
            if not alive:
                return
            time.sleep(0.05)
        if last:
            raise RuntimeError(f"processes {alive} did not exit")
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tree_cpu_s(pid: int) -> float:
    """User + system CPU of ``pid``, its reaped children and every live
    descendant (the JVM's Python workers)."""
    fields = _stat_fields(pid)
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    total = sum(int(x) for x in fields[11:15]) / _TICKS
    for kid in _children(pid):
        try:
            total += tree_cpu_s(kid)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of ``pid`` (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def self_cpu_s() -> float:
    """User + system CPU of this Python process alone."""
    t = os.times()
    return t.user + t.system


def jvm_pid(spark) -> int:
    """Pid of the JVM behind a local-mode session's py4j gateway."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        raise RuntimeError("the Spark JVM was not launched by this process")
    return proc.pid
