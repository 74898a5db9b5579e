"""Host pinning and process-tree memory sampling.

Everything the run writes (Spark local dirs, the JVM and Python temp dirs,
job outputs) goes under one work directory inside the checkout. Every
process the run starts (the Spark JVM and its Python workers) is stopped and
reaped before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import threading
import time

#: the driver JVM also hosts the local executors. A quarter of RAM, capped,
#: leaves room for the Python workers on a shared host; at 2 GB the JVM's
#: resident size kept growing through the run and peak_rss_mb spread ~20%
#: between runs, at 1 GB it levels off and the spread fell to ~4-10%.
DRIVER_MEMORY_CAP_MB = 1024


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin(work_dir: str) -> dict:
    """Set the environment the session factory and the JVM read, before the
    session starts. Returns the pinned values for the report."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    n = cores()
    mem_mb = min(DRIVER_MEMORY_CAP_MB, ram_mb() // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    import pyspark  # noqa: PLC0415

    return {"cores": n, "master": f"local[{n}]", "driver_memory": env["SPARK_DRIVER_MEMORY"],
            "local_dirs": os.path.relpath(local), "ram_mb": ram_mb(),
            "python": platform.python_version(), "spark": pyspark.__version__}


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _same_mm(a: list[int], b: list[int] | None) -> bool:
    """statm (size, resident) within 1%: a child that still shares its
    parent's address space, such as the JVM's vfork-style spawn of a helper
    process in the moment before exec."""
    return b is not None and all(abs(x - y) <= 0.01 * y for x, y in zip(a[:2], b[:2]))


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and its descendants, counting a child that
    shares its parent's address space once."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                statm = [int(x) for x in fh.read().split()]
        except OSError:
            continue
        if not _same_mm(statm, parent):
            total += statm[1] * page
        todo.extend((c, statm) for c in _children(pid))
    return total / (1 << 20)


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    driver, the JVM and its Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: a Python
    worker whose JVM parent exits is re-parented here, not to init, so
    ``stop_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stop_gateway(timeout: float) -> None:
    """Close the Spark JVM's stdin, which makes it exit (the JVM outlives its
    Python driver by up to a second otherwise), and wait for it; terminate
    and then kill it if it has not exited by ``timeout``."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    for stop in (None, proc.terminate, proc.kill):
        if stop is not None:
            stop()
        try:
            proc.wait(timeout=timeout)
            break
        except subprocess.TimeoutExpired:
            continue
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_children(timeout: float = 20.0) -> None:
    """Stop the Spark JVM, then wait until this process has no children
    left: reap each that exits, send SIGTERM to those still alive after
    ``timeout`` / 2 and SIGKILL after ``timeout``. Raises if one is still
    there after 2 * ``timeout``."""
    _stop_gateway(timeout / 3)
    start = time.monotonic()
    while time.monotonic() - start < 2 * timeout:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        left = _children(os.getpid())
        if not left:
            return
        waited = time.monotonic() - start
        if waited > timeout / 2:
            sig = signal.SIGKILL if waited > timeout else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    raise RuntimeError(f"child processes still running: {_children(os.getpid())}")
