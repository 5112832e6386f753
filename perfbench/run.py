"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload stream_512 --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (deleted at exit); the program under test only sees
the generated files. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` instruments the calls into each
layer and reports the per-layer metrics and prints the layer table.
Lines before it carry the run's report and the host weather probes.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

#: (name, unit, better)
END_TO_END = [
    ("throughput_per_s", "1/s", "higher"),
    ("latency_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("ok_frac", "ratio", "higher"),
]

_FIELD_UNITS = {"wall_s": "s", "run_core_s": "core_s", "cpu_core_s": "core_s",
                "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}


def per_layer_catalog() -> list[tuple[str, str, str]]:
    import queries
    import stream

    m = [
        ("session.start_s", "s", "lower"),
        ("calib.build_s", "s", "lower"),
        ("sources.tiff.decode_s", "s", "lower"),
        ("sources.tiff.tasks_per_image", "count", "higher"),
        ("streaming.trigger_overhead_s", "s", "lower"),
        ("streaming.jobs_per_batch", "count", "lower"),
        ("streaming.stages_per_batch", "count", "lower"),
        ("streaming.tasks_per_batch", "count", "lower"),
        ("image_pipeline.plan_call_s", "s", "lower"),
        ("image_pipeline.driver_plan_s", "s", "lower"),
    ]
    for kind, labels in (("barrier", stream.BARRIERS),
                         ("gradient", stream.GRADIENT)):
        for label in labels:
            for f in stream.LAYER_FIELDS:
                m.append((f"{kind}.{label}.{f}", _FIELD_UNITS[f], "lower"))
    m += [
        ("h_maxima.run_core_s", "core_s", "lower"),
        ("kernels.h_maxima_s", "s", "lower"),
        ("csim.wall_s", "s", "lower"),
        ("csim.run_core_s", "core_s", "lower"),
        ("csim.shuffle_write_bytes", "bytes", "lower"),
    ]
    for name in stream.SINKS:
        m += [(f"tables.{name}.wall_s", "s", "lower"),
              (f"tables.{name}.bytes", "bytes", "lower")]
    m += [(f"query.{n}.run_core_s", "core_s", "lower") for n in queries.HEADLINE]
    m += [("query.shuffle_write_bytes", "bytes", "lower"),
          ("query.spill_bytes", "bytes", "lower")]
    m += [(f"{k}.failed_tasks", "count", "lower")
          for k in ("barrier", "gradient", "tables", "csim", "streaming", "query")]
    m += [("executor.run_core_s", "core_s", "lower"),
          ("unattributed.run_core_s", "core_s", "lower"),
          ("unattributed.frac", "ratio", "lower")]
    m += [("host.peak_rss_mb", "MB", "lower"),
          ("host.peak_rss_java_mb", "MB", "lower"),
          ("host.peak_rss_python_mb", "MB", "lower")]
    m += [(f"traced.{n}", u, b) for n, u, b in END_TO_END if n != "ok_frac"]
    return m


def _run_workload(name: str, seed: int, seconds: float, traced: bool,
                  work: str, holder: list) -> dict:
    import queries
    import stream

    if name == "stream_512":
        return stream.run(seed, seconds, traced, work, holder)
    if name == "queries_sf0.01":
        return queries.run(seed, seconds, traced, work, holder)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("stream_512", "queries_sf0.01")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "xrddatapipeline_spark")):
        print(f"perfbench: no xrddatapipeline_spark package under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = host.prepare_workdir(
        os.path.join(ROOT, ".perfbench_work"),
        f"{args.workload}-{args.seed}-{os.getpid()}")
    rss = host.PeakRss()
    rss.start()
    holder: list = []
    try:
        res = _run_workload(args.workload, args.seed, args.seconds,
                            bool(args.trace), work, holder)
    finally:
        t0 = time.perf_counter()
        if holder:
            host.stop_spark(holder[0])
        host.reap_descendants()
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    res["report"].append(f"shutdown {time.perf_counter() - t0:.3f} s")
    rss_mb = {
        "host.peak_rss_mb": peak / 2**20,
        "host.peak_rss_java_mb": rss.peak_parts.get("java", 0) / 2**20,
        "host.peak_rss_python_mb": sum(
            v for k, v in rss.peak_parts.items() if k.startswith("python")) / 2**20,
    }
    res["report"].append("peak RSS MB " + json.dumps(
        {k: round(v) for k, v in rss_mb.items()}))
    for line in res["report"]:
        print(line)
    print("weather " + json.dumps(res["weather"]))
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")

    e2e = dict(res["e2e"])
    if not e2e:
        print("perfbench: no completed operations to measure", file=sys.stderr)
        return 1
    e2e["ok_frac"] = (res["attempted"] - res["failed"]) / res["attempted"]
    if args.trace:
        values = dict(res["layers"], **rss_mb)
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        catalog = per_layer_catalog()
    else:
        values, catalog = e2e, END_TO_END
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
               for n, u, _ in catalog}
    print(json.dumps({
        "correct": not res["problems"] and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
