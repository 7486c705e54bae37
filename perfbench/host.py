"""Host hygiene for a benchmark run, and what the run records about it.

- the core count is capped at the cores this process may use;
- the driver heap is sized below host RAM (``get_spark`` defaults to 48g);
- Python workers get the checkout on ``PYTHONPATH``;
- Spark's scratch space is a per-run directory inside the checkout;
- a Spark JVM already running on the host is flagged, since it competes
  for the same cores;
- a fixed numpy CPU fingerprint is taken at the start and the end, and
  the CPU time stolen by the hypervisor during the run is recorded, so a
  host that slowed down during the run shows in the record.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

MAX_CORES = 4
_PAGE = os.sysconf("SC_PAGE_SIZE")
# SPARK_GRAFT_* variables that size the session rather than switch a
# lever; the benchmark sets both itself.
SIZING_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")


def lever_env() -> list:
    """SPARK_GRAFT_* variables that would change the measured program."""
    return sorted(k for k in os.environ
                  if k.startswith("SPARK_GRAFT_") and k not in SIZING_ENV)


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(checkout: str, run_dir: str) -> dict:
    """Set the environment the session and its workers start from."""
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    ram = host_ram_mb()
    driver_mb = max(512, min(1024, ram // 4))
    local_dirs = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dirs)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    return {"cores": cores, "host_ram_mb": ram, "driver_mem_mb": driver_mb,
            "other_spark_jvms": other_spark_jvms()}


def _argv(pid: str) -> list:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().decode(errors="replace").split("\0")
    except OSError:
        return []


def other_spark_jvms() -> int:
    """Spark JVMs on the host before this run starts its own."""
    argvs = (_argv(pid) for pid in os.listdir("/proc") if pid.isdigit())
    return sum(1 for a in argvs if a and os.path.basename(a[0]) == "java"
               and "org.apache.spark.deploy.SparkSubmit" in a)


def cpu_fingerprint_ms() -> float:
    """Median time of a fixed numpy workload (matmul + sort)."""
    rng = np.random.default_rng(0)
    a = rng.random((160, 160))
    v = rng.random(200_000)
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        for _ in range(4):
            a @ a
            np.sort(v)
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) * 1e3


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over this VM's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict:
    kids = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def process_tree(root: int) -> list:
    """``root`` and all its descendants."""
    kids = _children()
    todo, tree = [root], []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total / (1024.0 * 1024.0)


def shutdown_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes still running: {started}")
        time.sleep(0.1)


class RssSampler:
    """Samples the process tree's RSS in a thread; ``peak_mb`` is the max
    (driver Python, its JVM and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
