"""Host side of a run: pinning, memory sampling, ambient telemetry and
teardown of the Spark JVM. Linux ``/proc`` only."""

from __future__ import annotations

import os
import subprocess
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def pin(work: str) -> dict:
    """Environment for the program, set before Spark starts: all cores,
    driver memory well below host RAM, no console progress bars, and
    every scratch file (Python temp, JVM temp, Spark local dirs) inside
    ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    n = cores()
    mem_gb = max(1, min(2, host_mem_mb() // 4096))
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEMORY": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # the heap is committed and touched up front, so resident
            # memory does not depend on when the collector grew it, and
            # the fixed heap can be taken out of the memory figure
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            f"-Xms{mem_gb}g -XX:+AlwaysPreTouch -XX:-UsePerfData' pyspark-shell"
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return {"cores": n, "driver_memory": env["SPARK_DRIVER_MEMORY"]}


def jvm_heap_mb(spark) -> float:
    """Committed heap of the driver JVM, in MB."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getCommitted() / (1 << 20)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _resident_kb(pid: int) -> int:
    """PSS of a Python process; plain RSS of the JVM. The JVM shares
    next to nothing with the rest of the tree (its PSS and RSS differ
    by ~3 MB), while reading its PSS walks the page tables of its
    whole heap: ~45 ms of CPU per read, taken from the measured passes
    several times a second. RSS is a counter the kernel keeps."""
    with open(f"/proc/{pid}/comm") as f:
        is_jvm = f.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    return _pss_kb(pid)


def tree_rss_mb(root: int) -> float:
    """Summed resident memory of ``root`` and all its descendants. Python
    processes count as PSS: a page shared by several of them (the pages
    forked Python workers share with their daemon) counts once in
    total, not once per process, so the sum does not swing with how
    many idle workers happen to be alive."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            total += _resident_kb(pid)
        except OSError:
            pass
    return total / 1024


class RssSampler:
    """Process-tree memory, sampled every ``interval`` seconds while
    enabled (the timed passes only), as ``(time, MB)`` pairs."""

    def __init__(self, interval=0.25):
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                t = time.perf_counter()
                self.samples.append((t, tree_rss_mb(pid)))
                time.sleep(self.interval)

    def enable(self, on: bool):
        (self._on.set if on else self._on.clear)()

    def peak(self, t0: float, t1: float) -> float:
        """The largest sample taken between ``t0`` and ``t1``."""
        return max((mb for t, mb in self.samples if t0 <= t <= t1), default=0.0)

    def stop(self):
        self._stop.set()
        self._on.set()
        self._t.join()


def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def _load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Ambient:
    """Steal % and load1 over a window (the timed passes only)."""

    def start(self):
        self._t0 = _cpu_times()
        self._l0 = _load1()

    def stop(self) -> dict:
        total, steal = _cpu_times()
        dt = total - self._t0[0]
        return {
            "steal_pct": 100.0 * (steal - self._t0[1]) / dt if dt else 0.0,
            "load1": (self._l0 + _load1()) / 2,
        }


def stop_spark(spark):
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; Python workers are its children."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:  # already gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
