"""Spark session with pinned settings, and what the benchmark reads from
the running JVM: per-job-group stage metrics and executed plans from the
live status stores, and the summed RSS of the driver JVM and its Python
workers.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time
from pathlib import Path

# Pinned so that co-tenants cannot move the measurement: the program's own
# session factory sizes the driver heap from MemAvailable otherwise.
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"

_PAGE = os.sysconf("SC_PAGE_SIZE")


def prepare_env(repo: Path, work: Path) -> None:
    """Environment for the driver and its Python workers, set before
    pyspark is imported: the program is importable from the checkout and
    every temporary file stays inside it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(repo), os.environ.get("PYTHONPATH")]))
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def start_session(work: Path, event_log: Path | None = None):
    """The program's session factory with parallelism, shuffle partitions
    and the driver heap pinned."""
    from osmgraft.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(tmp),
        # the whole heap is committed and touched at start, so the JVM's RSS
        # does not follow the collector's heap-growth decisions; no perf-data
        # file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the status store keeps the plan as 'simple' explain text
        "spark.sql.ui.explainMode": "simple",
        # uncompressed shuffle bytes are the serialized rows, whatever order
        # the rows arrive in, so shuffle_mb repeats exactly for one input
        "spark.shuffle.compress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=os.cpu_count() or 1, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM and
    every process below it (the PySpark daemon and workers) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _live_descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class StatusReader:
    """Stage metrics per job group, read from the live status store after
    the listener bus has drained."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def group(self, group: str) -> dict:
        """shuffle bytes written, the largest stage's peak execution memory
        (summed over its tasks) and the number of Spark jobs."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        shuffle = peak = 0
        for jid in jobs:
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                try:
                    sd = self._store.lastStageAttempt(it.next())
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                shuffle += sd.shuffleWriteBytes()
                peak = max(peak, sd.peakExecutionMemory())
        return {"shuffle_bytes": shuffle, "peak_exec_mem": peak, "spark_jobs": len(jobs)}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _live_descendants(root: int) -> list[int]:
    live = []
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                    live.append(pid)
        except OSError:
            continue
    return live


def descendants_rss_bytes(root: int) -> int:
    """Summed RSS of every process below ``root`` (the driver JVM, the
    PySpark daemon and its workers)."""
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak of the summed RSS below this process, sampled on a thread while
    active."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop.wait(self.interval_s)


def _meminfo_kb(key: str) -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_info() -> dict:
    """Recorded beside the metrics, not as metrics."""
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = None
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": spark_version,
        "java": java,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
    }
