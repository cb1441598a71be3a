"""Fit the run to the machine and keep every file it writes in one place.

Cores come from the scheduler affinity mask (what ``nproc`` prints when
``OMP_NUM_THREADS`` is unset), the driver heap from ``MemTotal``. Both are
passed to ``session.get_spark`` explicitly so the library's 32-core and
48 GB defaults are never inherited. Every scratch path the engine, Spark
and Python use is pointed under the run's work directory.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

SHUTDOWN_S = 60.0  # how long shutdown waits for the JVM and the workers


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(mem_mb: int) -> int:
    """A quarter of RAM, between 1 and 8 GB: the machine is shared, and the
    Python workers and the page cache need the rest."""
    return max(1024, min(8192, mem_mb // 4 // 512 * 512))


class Box:
    """Resources and paths of one benchmark process."""

    def __init__(self, root: str, work: str):
        self.root = root
        self.work = work
        self.cores = cores()
        self.mem_mb = mem_total_mb()
        self.heap_mb = heap_mb(self.mem_mb)
        self.spark = None
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        # Python workers and the JVM inherit these; the package must be
        # importable by the workers that run the engine's pandas UDFs
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp

    def describe(self) -> dict:
        return {"cores": self.cores, "shuffle_partitions": self.cores,
                "heap_mb": self.heap_mb, "mem_total_mb": self.mem_mb}

    def start_spark(self, n_cores: int | None = None):
        """Start (or restart at another core count) the engine session;
        returns seconds taken."""
        from distributed_classification_system_spark.session import get_spark

        n = n_cores or self.cores
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=n,
            shuffle_partitions=n,
            extra_conf={
                "spark.driver.memory": f"{self.heap_mb}m",
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and every
        Python worker it started have exited."""
        from pyspark import SparkContext

        procs = _descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=SHUTDOWN_S)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + SHUTDOWN_S
        while time.time() < deadline and any(_alive(p) for p in procs):
            time.sleep(0.05)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:  # the shared parent, once the last run is gone
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded loop: a reading of how fast the
    machine ran around a run, for telling machine drift from engine
    change."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def rss_parts(pid: int) -> list[tuple[str, float]]:
    """(command, peak RSS in MB) of every process below ``pid``."""
    out = []
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out.append((fields["Name"].strip(), int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0))
        except (FileNotFoundError, ProcessLookupError, KeyError):
            continue
    return out


def _descendants(pid: int) -> list[int]:
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
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's hidden and
    checksum files."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += 1
    return n_bytes, n_files


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False
