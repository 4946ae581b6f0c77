"""Process-tree helpers over ``/proc``: peak resident memory of the Spark JVM
and of its Python workers, process start time, and a shutdown that waits
for every process the benchmark started.

Sizes are this host's, as Linux reports them (``VmHWM`` of each process),
not a device's.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, counted after "comm)"
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:  # the process ended between listing and reading
        return None


def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root``, parents before children."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_bytes(pid: int) -> int:
    status = _read(f"/proc/{pid}/status") or ""
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) * 1024
    return 0


def _role(pid: int) -> str | None:
    cmd = (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "worker"
    if (_read(f"/proc/{pid}/comm") or "").strip() == "java":
        return "jvm"
    return None


class MemoryProbe:
    """Largest ``VmHWM`` seen so far for the JVM and for any Python worker.

    ``VmHWM`` is a per-process high-water mark, so sampling between
    operations catches every peak of a process that is still alive then;
    Spark keeps its Python workers alive between tasks.
    """

    def __init__(self) -> None:
        self.peak = {"jvm": 0, "worker": 0}

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            role = _role(pid)
            if role is not None:
                self.peak[role] = max(self.peak[role], _hwm_bytes(pid))

    def peak_mb(self, role: str) -> float:
        return self.peak[role] / 1e6


def _alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    return stat is not None and stat.rsplit(")", 1)[1].split()[0] != "Z"


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM and wait for every process started
    under this one (JVM, Python daemon and workers); kill what outlives the
    timeout."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
