"""Shared plumbing for the benchmark: pinned environment, work dir,
Spark session lifetime, resident-memory sampling and Spark job counts.

Nothing here imports pyspark or the package at module import time, so
the environment guard in run.py can refuse to run before either loads.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

# Exit codes of the environment guard (run.py). Distinct from Python's
# own 1 (uncaught exception) and 2 (argparse usage error).
EXIT_NO_PACKAGE = 3
EXIT_NO_CDOM = 4

# Driver heap for local mode. Every task thread runs in this one JVM;
# 2g keeps the collector under 3% of the timed section on both
# workloads (README.md, "Heap sizing").
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class WorkDir:
    """A fresh directory inside the checkout for everything Spark and
    the workloads write: shuffle/spill files, the SQL warehouse, JVM and
    Python temp files, WARC shards and crawl state. Removed on exit."""

    def __init__(self, root: str, workload: str) -> None:
        self.path = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")

    def __enter__(self) -> "WorkDir":
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("local", "warehouse", "tmp", "data"):
            os.makedirs(os.path.join(self.path, sub))
        return self

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no concurrent run still uses it
        except OSError:
            pass


def pin_environment(root: str, work: WorkDir) -> dict:
    """Set every variable the session factory and the Python workers
    read, so two runs on one machine see the same configuration.
    Returns the pinned settings for the result record."""
    n = cores()
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": work.sub("local"),
        "SPARK_GRAFT_MAX_PARTITION_BYTES": "16m",
        "SPARK_GRAFT_MIN_PARTITION_NUM": str(n),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": root,
        "TMPDIR": work.sub("tmp"),
        # the JVM spark-submit runs to build the driver command line
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={work.sub('warehouse')}",
            # -Xms: the heap is sized once, so the JVM's resident memory
            # does not depend on when the collector decides to grow it.
            # No hsperfdata: the JVM would write it under /tmp whatever
            # java.io.tmpdir says
            "--driver-java-options "
            f"'-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={work.sub('tmp')}'",
            "pyspark-shell",
        ]),
    }
    os.environ.pop("GO_HTMLDATE_NO_CDOM", None)
    os.environ.update(env)
    return {"cores": n, "driver_heap": DRIVER_MEM, "work_dir": work.path}


def versions(spark) -> dict:
    import platform

    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit.
    The pyspark daemon and its workers exit when the JVM closes their
    pipes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def wait_descendants(timeout: float = 60.0) -> None:
    """Block until every process started under this one has exited."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        kids = _children().get(os.getpid(), [])
        if not kids:
            return
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


class RssSampler:
    """Peak summed resident memory of every process below this one: the
    driver JVM, the pyspark daemon and its Python workers. Sampled from
    /proc every `interval` seconds on a background thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = _children()
        total, stack = 0, [(pid, None) for pid in kids.get(os.getpid(), [])]
        while stack:
            pid, parent_exe = stack.pop()
            exe = _exe(pid)
            if exe is not None and exe == parent_exe and exe.endswith("/java"):
                # the JVM starting a command (Hadoop's local file system
                # shells out): until the exec, the child shares the JVM's
                # memory, so counting it would count the JVM twice
                continue
            total += _rss_kb(pid)
            stack.extend((child, exe) for child in kids.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._sample())
        return self.peak_kb / 1024.0


class Steal:
    """Share of CPU time the hypervisor gave to other guests between
    construction and `frac()`: the machine's own noise, recorded so a
    slow run can be told from a slow program."""

    def __init__(self) -> None:
        self._t0 = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def frac(self) -> float:
        d = [b - a for a, b in zip(self._t0, self._read())]
        return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def gc_seconds(spark) -> float:
    """Cumulative collector time of the driver JVM (all collectors)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class JobCounter:
    """Spark jobs and tasks submitted between two marks, read from the
    application status store (it counts jobs from every thread, so the
    scheduler's concurrent snapshot writes are included)."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._last = self._max_id()

    def _jobs(self):
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def _max_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def take(self) -> tuple[int, int]:
        """(jobs, tasks) since the previous take."""
        jobs = tasks = 0
        top = self._last
        for j in self._jobs():
            if j.jobId() > self._last:
                jobs += 1
                tasks += j.numTasks() - j.numSkippedTasks()
                top = max(top, j.jobId())
        self._last = top
        return jobs, tasks
