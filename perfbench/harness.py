"""Session lifetime, per-pass context probes and summary statistics.

Nothing here calls package code except ``session.build_session``. The
probes (``yardstick``, ``load1``, ``peak_rss_mb``) are read beside every
pass so that a slow phase of the machine can be told apart from a slow
program.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time
from typing import List, Optional, Sequence, Tuple


# the inputs are megabytes; a small heap keeps the benchmark light on a
# machine it may share
DRIVER_MEMORY = "2g"

# the source checkout holding pdf_extraction_spark
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """Owns the SparkSession and the JVM behind it.

    Every file the JVM or its Python workers write goes under ``work``
    (spark.local.dir, java.io.tmpdir, the SQL warehouse), so the benchmark
    touches nothing outside its checkout. ``close`` stops Spark, shuts the
    gateway and waits until the JVM process has exited.
    """

    def __init__(self, work: str, n_cores: int):
        self.work = work
        self.n_cores = n_cores
        self.spark = None
        for d in ("spark_local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
        os.environ["TMPDIR"] = tmp
        # the short-lived launcher JVM that spark-submit starts first
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Spark's Python workers import the package from the checkout
        if ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
            os.environ["PYTHONPATH"] = os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    def start(self):
        from pdf_extraction_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.n_cores}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.work, "spark_local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)


# ------------------------------------------------------------------ probes

def yardstick() -> float:
    """Seconds for a fixed pure-Python loop plus a memory-bound copy. Calls
    no package code: it moves only when the machine does."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc = (acc + i * i) % 1_000_003
    buf = bytearray(16 << 20)
    for _ in range(4):
        buf = bytearray(bytes(buf))
    return time.perf_counter() - t0


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> List[int]:
    """The aggregate 'cpu' line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_iowait(before: List[int], after: List[int]) -> Tuple[float, float]:
    """Shares of all CPU time between two ``cpu_ticks`` readings that the
    hypervisor took away (steal) and that sat waiting on IO (iowait)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return d[7] / total, d[4] / total


def _children(pid: int) -> List[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> Tuple[float, float, int]:
    """VmHWM of the driver JVM and the summed VmHWM of its live
    descendants (the Python daemon and its workers), in MB, and how many
    descendants there are."""
    todo, seen = list(_children(jvm_pid)), set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo.extend(_children(p))
    return _hwm_kb(jvm_pid) / 1024.0, sum(_hwm_kb(p) for p in seen) / 1024.0, len(seen)


# ------------------------------------------------------------------ stats

def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def spread(xs: Sequence[float]) -> float:
    """(max - min) / median of one run's samples; 0 for a single sample."""
    if len(xs) < 2:
        return 0.0
    m = median(xs)
    return (max(xs) - min(xs)) / m if m else 0.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


@dataclasses.dataclass
class Pass:
    """One timed operation with the machine context read beside it."""

    kind: str
    seconds: float
    ok: bool
    error: Optional[str]
    yardstick_s: float
    load1: float
    steal: float
    iowait: float
    steal_hit: bool
