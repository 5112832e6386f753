"""Layer attribution from outside the program.

The benchmark records spans around its calls into each layer's public
functions and sets a job group (``perfbench:<layer>``) around them. After
the timed region it reads Spark's own per-stage metrics from the driver's
status store (the data behind the Spark UI; no UI server needed) and
assigns each stage to a layer: by the program's own stage names
(``barrier:<label>``, ``sink:<table>``) first, then by job group. Stages
that neither covers land in the ``unattributed`` row.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")

#: session settings of a traced run: keep every stage of the run in the
#: status store (the default retention drops stages past 1000)
TRACE_CONF = {"spark.ui.retainedStages": "20000",
              "spark.ui.retainedJobs": "20000"}


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds
    t1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Recorder:
    """Thread-safe span log, kept in memory and read after the timed
    region."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append(Span(name, t0, time.time()))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@contextmanager
def job_group(sc, layer: str):
    """Run the body with job group ``perfbench:<layer>`` on this thread,
    then restore whatever group the thread had."""
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_KEYS}
    sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + layer)
    sc.setLocalProperty("spark.job.description", layer)
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def current_group(sc) -> str:
    return sc.getLocalProperty("spark.jobGroup.id") or ""


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(d) -> float | None:
    return None if d is None else float(d.getTime())


def read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """(stages, jobs) as plain dicts, from the driver's live status store.
    Times are epoch milliseconds."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jl = store.jobsList(jvm.java.util.ArrayList())
    jobs = []
    for i in range(jl.size()):
        j = jl.apply(i)
        ids = j.stageIds()
        jobs.append({
            "job_id": int(j.jobId()),
            "group": _opt(j.jobGroup()) or "",
            "submit_ms": _ms(_opt(j.submissionTime())),
            "complete_ms": _ms(_opt(j.completionTime())),
            "stage_ids": [int(ids.apply(k)) for k in range(ids.size())],
        })
    jobs.sort(key=lambda r: r["job_id"])
    group_of: dict[int, str] = {}
    for j in jobs:  # a stage runs in the first job that needs it
        for sid in j["stage_ids"]:
            group_of.setdefault(sid, j["group"])
    sl = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    stages = []
    for i in range(sl.size()):
        s = sl.apply(i)
        if s.status().toString() not in ("COMPLETE", "FAILED"):
            continue  # skipped stages did no work
        submit = _ms(_opt(s.submissionTime()))
        if submit is None:
            continue
        sid = int(s.stageId())
        stages.append({
            "stage_id": sid,
            "name": s.name() or "",
            "group": group_of.get(sid, ""),
            "submit_ms": submit,
            "complete_ms": _ms(_opt(s.completionTime())) or submit,
            "run_ms": float(s.executorRunTime()),
            "cpu_ns": float(s.executorCpuTime()),
            "shuffle_write": float(s.shuffleWriteBytes()),
            "spill": float(s.diskBytesSpilled()),
            "tasks": int(s.numTasks()),
            "failed_tasks": int(s.numFailedTasks()),
        })
    return stages, jobs


def layer_of(stage: dict) -> str:
    name = stage["name"]
    if name.startswith("barrier:"):
        label = name[len("barrier:"):]
        kind = "gradient" if label.startswith("grad_") else "barrier"
        return f"{kind}.{label}"
    if name.startswith("sink:"):
        return "tables." + name[len("sink:"):]
    if stage["group"].startswith(GROUP_PREFIX):
        return stage["group"][len(GROUP_PREFIX):]
    return "unattributed"


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals, same units."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def in_windows(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def layer_stats(stages: list[dict], windows: list[tuple[float, float]]
                ) -> dict[str, dict]:
    """Per-layer totals over the stages submitted inside ``windows``
    (epoch ms). Wall is the union of the layer's stage intervals."""
    acc: dict[str, dict] = {}
    spans: dict[str, list] = {}
    for st in stages:
        if not in_windows(st["submit_ms"], windows):
            continue
        layer = layer_of(st)
        a = acc.setdefault(layer, {
            "run_core_s": 0.0, "cpu_core_s": 0.0, "shuffle_write_bytes": 0.0,
            "spill_bytes": 0.0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        })
        a["run_core_s"] += st["run_ms"] / 1e3
        a["cpu_core_s"] += st["cpu_ns"] / 1e9
        a["shuffle_write_bytes"] += st["shuffle_write"]
        a["spill_bytes"] += st["spill"]
        a["stages"] += 1
        a["tasks"] += st["tasks"]
        a["failed_tasks"] += st["failed_tasks"]
        spans.setdefault(layer, []).append((st["submit_ms"], st["complete_ms"]))
    for layer, a in acc.items():
        a["wall_s"] = union_s(spans[layer]) / 1e3
    return acc


def format_table(title: str, stats: dict[str, dict], per: int) -> str:
    """Layer table, per ``per`` operations, with an unattributed row and the
    executor total; ``run%`` is the share of executor run time."""
    per = max(per, 1)
    total = sum(a["run_core_s"] for a in stats.values()) or 1.0
    rows = sorted((k for k in stats if k != "unattributed"),
                  key=lambda k: -stats[k]["run_core_s"])
    rows.append("unattributed")
    lines = [f"# {title}: mean per operation over {per}",
             f"{'layer':36s} {'wall_s':>8s} {'run_core_s':>10s} "
             f"{'cpu_core_s':>10s} {'shufw_MB':>9s} {'spill_MB':>8s} "
             f"{'stages':>7s} {'tasks':>7s} {'run%':>6s}"]
    empty = {"wall_s": 0.0, "run_core_s": 0.0, "cpu_core_s": 0.0,
             "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "stages": 0,
             "tasks": 0}
    for k in [*rows, "total"]:
        if k == "total":
            a = {f: sum(s[f] for s in stats.values()) for f in empty}
            a["wall_s"] = float("nan")
        else:
            a = stats.get(k, empty)
        lines.append(
            f"{k:36s} {a['wall_s'] / per:8.3f} {a['run_core_s'] / per:10.3f} "
            f"{a['cpu_core_s'] / per:10.3f} "
            f"{a['shuffle_write_bytes'] / per / 2**20:9.2f} "
            f"{a['spill_bytes'] / per / 2**20:8.2f} "
            f"{a['stages'] / per:7.1f} {a['tasks'] / per:7.1f} "
            f"{100 * a['run_core_s'] / total:6.1f}"
        )
    return "\n".join(lines)
