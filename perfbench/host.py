"""Host-side helpers: the run's work directory, process-tree RSS, weather
probes and an orderly Spark shutdown."""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import threading
import time

import numpy as np

PAGE = os.sysconf("SC_PAGE_SIZE")


def prepare_workdir(root: str, name: str) -> str:
    """A fresh directory under ``root`` that receives every file the run
    writes: Spark local dirs, temp files and the workload's inputs and
    outputs."""
    work = os.path.join(root, name)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot writes its perf-counter file under /tmp whatever
    # java.io.tmpdir says; PerfDisableSharedMem keeps it in memory
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip())
    return work


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
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of ``root`` and its descendants, summed per command name
    (``java`` is the driver JVM, ``python3`` the driver and its workers)."""
    parts: dict[str, int] = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
        except OSError:
            continue
        parts[comm] = parts.get(comm, 0) + rss
    return parts


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants (the
    Spark driver JVM and its Python workers) and keeps the peak, with its
    split per command name."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True, name="peak-rss")
        self.period_s = period_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._halt = threading.Event()

    def _sample(self) -> None:
        parts = tree_rss(os.getpid())
        if sum(parts.values()) > self.peak:
            self.peak, self.peak_parts = sum(parts.values()), parts

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period_s)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        self._sample()
        return self.peak


def jvm_probe_s(spark) -> float:
    """Fixed-work JVM probe: one task per core, a codegen'd trig sum over a
    fixed range per task. Run once to compile, then timed."""
    from pyspark.sql import functions as F

    cpus = spark.sparkContext.defaultParallelism
    sc = spark.sparkContext
    sc.setJobGroup("perfbench:weather", "fixed-work JVM probe")

    def once() -> float:
        t0 = time.perf_counter()
        (spark.range(cpus * 3_000_000, numPartitions=cpus)
         .select(F.sum(F.sin(F.col("id") % 1000000 * 1e-6)
                       * F.cos(F.col("id") % 1000000 * 1e-7)))
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    try:
        once()
        return once()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def numpy_probe_s() -> float:
    """Fixed-work single-threaded numpy probe: sort 2 M doubles, 3 times."""
    a = np.random.default_rng(0).random(2_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(a, kind="quicksort")
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two ``cpu_ticks``."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def measured_enough(units: list[dict], seconds: float) -> bool:
    """True once the timed units (micro-batches or query passes, each a
    dict with ``t0``/``t1`` in seconds) span at least ``seconds``."""
    return bool(units) and units[-1]["t1"] - units[0]["t0"] >= seconds


def units_steal(units: list[dict]) -> float:
    """Share of CPU time stolen over the timed units (each with
    ``ticks0``/``ticks1`` from ``cpu_ticks``)."""
    return steal_frac(units[0]["ticks0"], units[-1]["ticks1"])


def weather(spark, ticks_before: tuple[int, int]) -> dict:
    """Probe readings plus the share of CPU time stolen by the hypervisor
    since ``ticks_before`` (taken when the timed region started)."""
    steal = steal_frac(ticks_before, cpu_ticks())
    return {"jvm_probe_s": round(jvm_probe_s(spark), 4),
            "numpy_probe_s": round(numpy_probe_s(), 4),
            "steal_frac": round(steal, 4)}


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF), and wait
    for the JVM to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:  # a run interrupted mid-call can leave the gateway unusable
        spark.stop()
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every descendant to exit; SIGKILL what is left after
    ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        try:  # collect exited direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in descendants(os.getpid()) if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.1)
