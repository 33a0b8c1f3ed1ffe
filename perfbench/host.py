"""Host context, process hygiene and the Spark session the benchmark
drives.

Everything a run writes lives under its work directory inside the
checkout: Spark's local and warehouse dirs, the JVM's temp dir, the
event log, the generated table and the indexes.
"""

from __future__ import annotations

import os
import platform
import signal
import tempfile
import threading
import time
from pathlib import Path


def calibrate_ms() -> float:
    """Busy-loop CPU calibration: a fixed pure-Python loop, best of 3.
    Context only; it lets a slower host be told from slower code."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def context() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


# ----------------------------------------------------- process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """User + system clock ticks of one process.  Ticks the hypervisor
    stole from this guest are accounted as steal, not to the process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


class TreeMeter:
    """CPU time and peak resident memory of this process and the
    descendants it has on entry, while active.  Memory is sampled every
    ``period`` seconds; the process tree is walked once, so a sample
    reads a few small files."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb = sum(_rss_kb(p) for p in self._pids) / 1024.0
        self.peak_mb = max(self.peak_mb, mb)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def _ticks(self) -> int:
        return sum(_cpu_ticks(p) for p in self._pids)

    def __enter__(self) -> "TreeMeter":
        self._pids = [os.getpid(), *descendants()]
        self._sample()
        self._t.start()
        self._ticks0 = self._ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = (self._ticks() - self._ticks0) / os.sysconf("SC_CLK_TCK")
        self._stop.set()
        self._t.join(timeout=5)
        self._sample()


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over this guest's CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def reap(timeout: float = 20.0) -> None:
    """Stop every descendant process and wait until each has ended:
    SIGTERM, a grace period, then SIGKILL."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + timeout / 2
        while time.monotonic() < end:
            _wait_children()
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
    _wait_children()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ------------------------------------------------------------ Spark

def isolate(work: Path, root: Path) -> None:
    """Point every temp dir at ``work`` and make the program importable
    by Spark's Python workers.  Call before pyspark starts a JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def start_spark(work: Path, event_log: bool):
    import sys

    from katta_spark.session import get_spark

    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master="local[4]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except (Py4JError, OSError):  # the JVM may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap()
