"""Run hygiene: the Spark session, the per-run scratch root, host facts and
the peak-RSS sampler.

Everything a run writes (index stores, Spark local dirs, temp files, the
event log) lives under one scratch root inside the checkout, created fresh
per run and removed at exit.
"""

from __future__ import annotations

import os
import platform
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench_scratch")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / (1024 * 1024), 1)
    return 0.0


class Scratch:
    """A fresh directory for one run; ``close`` removes it."""

    def __init__(self):
        self.root = os.path.join(
            SCRATCH_PARENT, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.root)
        for sub in ("tmp", "spark-local", "warehouse", "eventlog", "index"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_PARENT)  # only when no other run uses it
        except OSError:
            pass


def start_spark(scratch: Scratch, event_log: bool):
    """One driver process, ``local[nproc]``, shuffle partitions = nproc.

    Python workers get ``PYTHONPATH`` pointing at the checkout (without it
    they fail to import the engine), and every temp/spill path points into
    the scratch root. Returns ``(spark, hygiene)``; ``hygiene`` is reported
    in the run's output."""
    n = nproc()
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONPATH"] = pythonpath
    os.environ["SPARK_LOCAL_DIRS"] = scratch.path("spark-local")
    os.environ["TMPDIR"] = scratch.path("tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": pythonpath,
        "spark.sql.warehouse.dir": scratch.path("warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch.path('tmp')} "
            f"-Dderby.system.home={scratch.path('tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + scratch.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from marc_solr_profiling_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    hygiene = {
        "master": f"local[{n}]",
        "shuffle_partitions": int(spark.conf.get(
            "spark.sql.shuffle.partitions")),
        "driver_processes": 1,
        "show_console_progress": spark.conf.get(
            "spark.ui.showConsoleProgress"),
        "worker_pythonpath": pythonpath,
        "scratch_root": scratch.root,
        "index_store": scratch.path("index"),
        "flush_policy": "parquet via the local Hadoop FS, no fsync "
                        "(page cache); removed at exit",
        "event_log": event_log,
        "driver_heap": spark.conf.get("spark.driver.memory"),
    }
    return spark, hygiene


def stop_spark(spark) -> None:
    """Stop the context, then the JVM (and with it the Python worker
    daemon), and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_facts(spark=None) -> dict:
    import pyarrow

    facts = {
        "nproc": nproc(),
        "ram_gb": ram_gb(),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }
    if spark is not None:
        facts["spark"] = spark.version
    return facts


def _tree_rss_kb(root_pid: int) -> int:
    """Sum of VmRSS over ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        pid = int(name)
        rss[pid] = kb
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak RSS of this process tree (driver, JVM, Python workers), sampled
    from ``/proc`` on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
