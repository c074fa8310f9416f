"""Spark session sizing, set-up timing, per-operation timeouts and the
peak-RSS sampler.

The session is sized to the machine the benchmark runs on: ``local[nproc]``,
shuffle partitions = nproc, JVM heap from physical memory.  The
package root goes on ``PYTHONPATH`` before the JVM starts, so Spark's
Python workers import ``tippecanoe_spark`` whatever the working directory.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from contextlib import contextmanager


def box() -> dict:
    """Cores and physical memory of this machine."""
    nproc = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": nproc, "mem_gb": round(mem / 2**30, 1)}


def jvm_heap(mem_gb: float) -> str:
    """A quarter of physical memory, between 1 and 8 GiB: the machine may
    be shared, and local mode runs the executors inside that one JVM."""
    return f"{int(min(max(mem_gb / 4, 1), 8))}g"


def configure(root: str, tmp: str) -> dict:
    """Environment the program and its Spark workers read; call before
    the first session starts.  Temporary files of this process, the JVM,
    Spark's shuffle and the Python workers all go under ``tmp``."""
    b = box()
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(b["nproc"])
    os.environ["SPARK_DRIVER_MEM"] = jvm_heap(b["mem_gb"])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    b["jvm_heap"] = os.environ["SPARK_DRIVER_MEM"]
    return b


def start_session(nproc: int, extra: dict | None = None):
    """``get_spark`` plus a warm-up job that starts one Python worker per
    core.  Returns (spark, seconds)."""
    from tippecanoe_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app="tilebench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, nproc, 1, nproc).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    return spark, time.perf_counter() - t0


class OpTimeout(Exception):
    pass


@contextmanager
def deadline(spark, seconds: float):
    """Cancel every Spark job once ``seconds`` have passed; the operation
    then fails and is counted as failed."""
    fired = threading.Event()

    def fire():
        fired.set()
        spark.sparkContext.cancelAllJobs()

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    try:
        yield
    except Exception as exc:
        if fired.is_set():
            raise OpTimeout(f"operation exceeded {seconds:.0f}s") from exc
        raise
    finally:
        timer.cancel()
    if fired.is_set():
        raise OpTimeout(f"operation exceeded {seconds:.0f}s")


# ---------------------------------------------------------------------------
# peak RSS of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    kids = _children()
    out = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def descendants_rss(pid: int) -> int:
    """Summed RSS bytes of every descendant of ``pid`` (not ``pid``)."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the summed RSS of this process's descendants (the Spark
    JVM, the PySpark daemon and its workers) while active."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, descendants_rss(os.getpid()))
