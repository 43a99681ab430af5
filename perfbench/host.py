"""Host record and process-tree accounting read from ``/proc``.

CPU time is summed over the driver Python process and every descendant (the
driver JVM, the PySpark daemon and its Python workers). A process that
exits hands its CPU time to its parent's ``cutime``/``cstime`` once the
parent reaps it, so summing ``utime+stime+cutime+cstime`` over the live
tree keeps reaped workers counted.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def driver_heap_mb() -> int:
    """Driver heap sized from physical memory: an eighth of MemTotal,
    between 1 GiB and 8 GiB. The engine's own default (32g) exceeds small
    hosts."""
    return max(1024, min(8192, meminfo_kb()["MemTotal"] // 1024 // 8))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren.
    return data[data.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _is_py_worker(pid: int) -> bool:
    # the PySpark daemon and the workers it forks share its command line
    cmd = _cmdline(pid)
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


def tree_cpu_s(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree, split into the driver Python
    process, the JVM and the PySpark daemon/workers."""
    root = root or os.getpid()
    parts = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid in process_tree(root):
        st = _stat(pid)
        if st is None:
            continue
        # utime stime cutime cstime are fields 14-17; st starts at field 3
        ticks = sum(int(x) for x in st[11:15])
        if pid == root:
            part = "driver_py"
        elif _is_py_worker(pid):
            part = "py_workers"
        else:
            part = "jvm"
        parts[part] += ticks / _TICK
    parts["total"] = sum(parts.values())
    return parts


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_memory_mb(root: int | None = None) -> dict[str, float]:
    """Resident memory of the process tree: RSS of the driver Python process
    and of the driver JVM (its child), plus the PSS of the PySpark daemon and
    its forked workers, which share copy-on-write pages (PSS splits shared
    pages between their sharers; summed RSS would count them once per
    worker). Short-lived helpers the JVM spawns are left out: one caught
    between fork and exec shares the JVM's memory and command line and
    reports the JVM's whole RSS as its own."""
    out = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0, "n_py_workers": 0}
    root = root or os.getpid()
    for pid in process_tree(root):
        st = _stat(pid)
        if st is None:
            continue
        if pid == root:
            out["driver_py"] += int(st[21]) * _PAGE / 2**20
        elif int(st[1]) == root:
            out["jvm"] += int(st[21]) * _PAGE / 2**20
        elif _is_py_worker(pid):
            out["py_workers"] += _pss_mb(pid)
            out["n_py_workers"] += 1
    out["total"] = out["driver_py"] + out["jvm"] + out["py_workers"]
    return out


class MemorySampler:
    """Background sampler of the tree's resident memory; ``peak`` is the
    sample with the highest total seen while running. Sampling at 5 Hz
    costs a few ms of driver CPU per second, which ``cpu_s`` includes."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = {"total": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        m = tree_memory_mb()
        if m["total"] > self.peak["total"]:
            self.peak = m

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use right after a full collection: what the program
    still holds, such as cached DataFrames that were never unpersisted.
    Unlike resident memory, it does not follow the committed heap size."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def cpu_times() -> list[int]:
    """Aggregate ``/proc/stat`` cpu line: user nice system idle iowait irq
    softirq steal (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def weather(before: list[int], after: list[int]) -> dict[str, float]:
    """Host weather between two ``cpu_times`` samples. ``busy_pct`` counts
    user+nice+system+irq+softirq over the non-steal total, so stolen time
    neither inflates nor deflates it."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    steal = d[7]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {
        "steal_pct": round(100.0 * steal / total, 2),
        "busy_pct": round(100.0 * busy / max(total - steal, 1), 2),
    }


def host_record(spark=None) -> dict:
    mem = meminfo_kb()
    rec = {
        "cpus": cpu_count(),
        "ram_mb": mem["MemTotal"] // 1024,
        "python": platform.python_version(),
        "kernel": platform.release(),
    }
    try:
        import numpy
        import pyspark

        rec["pyspark"] = pyspark.__version__
        rec["numpy"] = numpy.__version__
    except ImportError:
        pass
    if spark is not None:
        jvm = spark.sparkContext._jvm
        rec["java"] = jvm.java.lang.System.getProperty("java.version")
        rec["driver_heap_mb"] = int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // 2**20
        rec["master"] = spark.sparkContext.master
    return rec


def wall() -> float:
    return time.perf_counter()


def stop_jvm(timeout_s: float = 60.0) -> None:
    """After ``spark.stop()``: close the Py4J gateway, end the driver JVM
    (it exits when its stdin closes) and wait until every process this one
    started is gone, killing what is left at the deadline."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s / 2)
            except Exception:  # noqa: BLE001 - TimeoutExpired: kill below
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s / 2
    while True:
        rest = process_tree()[1:]
        if not rest:
            return
        if time.time() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:  # reap direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)
