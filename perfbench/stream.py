"""Streaming workloads: seeded detector TIFFs pre-landed in a directory,
drained by the product's streaming pipeline in backfill mode
(``available_now``), one image per micro-batch, gradient stage and
h-maxima on — the path ``scripts/run_pipeline.py --gradient`` takes.

Closed loop: the stream starts the next micro-batch only after the
previous one commits. The first batch is cold and belongs to set-up. Warm
batches then run until they span ``seconds``; latency is their median.
After that the benchmark's foreachBatch shim returns without calling the
pipeline, so the remaining landed files drain as empty triggers and no
batch is cut short.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext
from datetime import datetime

import numpy as np

import gen_tiffs
import host
import trace as tr

SIZE = 512
OUTPUT_TABLES = ("integrals", "spot_stats", "spottiness", "outliers",
                 "h_maxima", "csim", "gradient_arcs")
SINKS = ("pixels", "integrals", "spot_stats", "spottiness", "outliers",
         "h_maxima", "csim", "gradient_arcs")
BARRIERS = ("px", "outliers", "lpx", "label_table", "intspot")
GRADIENT = ("grad_fused", "grad_thresholds", "grad_on_arc")
LAYER_FIELDS = ("wall_s", "run_core_s", "cpu_core_s", "shuffle_write_bytes",
                "spill_bytes")


def controls():
    from xrddatapipeline_spark.calib.geometry import ImageControls

    dist, cx, cy = gen_tiffs.detector_geometry(SIZE)
    return ImageControls(
        wavelength=0.24087, distance=dist, center_x=cx, center_y=cy,
        pixel_size_x=gen_tiffs.PIXEL_MM * 1e3,
        pixel_size_y=gen_tiffs.PIXEL_MM * 1e3,
        size_x=SIZE, size_y=SIZE, iotth=(1.0, 12.7),
        out_channels=1000, num_chans_om=500, pola_val=0.99, esd_mul=3.0,
        dataset=gen_tiffs.DATASET,
    )


def _epoch_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class _Instrument:
    """Traced runs only: wrap the pipeline's calls into the image plan, the
    table writer and csim with spans and job groups."""

    def __init__(self, spark, pipe, rec: tr.Recorder):
        import xrddatapipeline_spark.streaming.pipeline as pl
        import xrddatapipeline_spark.tables as tables

        self.sc, self.rec = spark.sparkContext, rec
        self.table_bytes: list[tuple[float, str, int]] = []
        self._restore = [(pl, "run_image_plan", pl.run_image_plan),
                         (tables, "write_table", tables.write_table)]
        plan, write, csim = pl.run_image_plan, tables.write_table, pipe._append_csim

        def run_image_plan(*a, **kw):
            with rec.span("image_pipeline.plan_call"), \
                    tr.job_group(self.sc, "image_pipeline.other"):
                return plan(*a, **kw)

        def write_table(df, path, *a, **kw):
            # csim's own write stays in the csim group; every other table
            # write gets a group of its own
            name = os.path.basename(os.path.normpath(path))
            in_csim = tr.current_group(self.sc) == tr.GROUP_PREFIX + "csim"
            before = _dir_bytes(path)
            with rec.span(f"tables.{name}"), (
                nullcontext() if in_csim
                else tr.job_group(self.sc, f"tables.{name}")
            ):
                out = write(df, path, *a, **kw)
            self.table_bytes.append((time.time(), name, _dir_bytes(path) - before))
            return out

        def append_csim(batch_df):
            with rec.span("csim"), tr.job_group(self.sc, "csim"):
                return csim(batch_df)

        pl.run_image_plan = run_image_plan
        tables.write_table = write_table
        pipe._append_csim = append_csim

    def close(self) -> None:
        for mod, name, fn in self._restore:
            setattr(mod, name, fn)


def run(seed: int, seconds: float, traced: bool, work: str,
        spark_holder: list) -> dict:
    from xrddatapipeline_spark.calib.cache import build_calib_pixels
    from xrddatapipeline_spark.session import get_spark
    from xrddatapipeline_spark.streaming.pipeline import StreamingImagePipeline

    landing = os.path.join(work, "landing")
    out_dir = os.path.join(work, "out")
    # the cold frame, enough warm frames at down to 2 s per batch, and one
    # spare whose trigger closes the timed cycle
    n_frames = 2 + math.ceil(seconds / 2)
    gen_tiffs.generate(landing, SIZE, n_frames, seed)

    rec = tr.Recorder()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-stream",
                      extra_conf=tr.TRACE_CONF if traced else None)
    spark_holder.append(spark)
    spark.sparkContext.setLogLevel("WARN")
    session_s = time.perf_counter() - t0

    c = controls()
    t0 = time.perf_counter()
    calib = build_calib_pixels(spark, c).persist()
    calib.count()
    calib_s = time.perf_counter() - t0

    pipe = StreamingImagePipeline(spark, calib, c, out_dir, gradient_stage=True)
    inst = _Instrument(spark, pipe, rec) if traced else None
    batches: list[dict] = []
    real = pipe.process_batch

    def process_batch(batch_df, batch_id):
        warm = [b for b in batches if b["ran"] and b["batch_id"] > 0]
        if batch_id > 0 and host.measured_enough(warm, seconds):
            batches.append({"batch_id": batch_id, "ran": False})
            return
        b = {"batch_id": batch_id, "ran": True, "ok": False,
             "t0": time.time(), "ticks0": host.cpu_ticks()}
        batches.append(b)
        try:
            real(batch_df, batch_id)
            b["ok"] = True
        finally:
            b["t1"], b["ticks1"] = time.time(), host.cpu_ticks()

    pipe.process_batch = process_batch
    ticks = host.cpu_ticks()
    t_start = time.time()
    query = pipe.start(landing, os.path.join(work, "checkpoint"),
                       available_now=True, max_files_per_trigger=1,
                       source_format="tiff")
    error = None
    try:
        query.awaitTermination()
    except Exception as e:  # noqa: BLE001 — a failed batch fails the query
        error = repr(e)
    if inst:
        inst.close()
    weather = host.weather(spark, ticks)

    progress = {p.batchId: p for p in query.recentProgress}
    ran = [b for b in batches if b["ran"]]
    failed = sum(1 for b in ran if not b["ok"])
    timed = [b for b in ran if b["batch_id"] > 0 and b["ok"]]
    problems = [f"stream failed: {error}"] if error else []
    if not timed:
        problems.append("no timed batch completed")

    def trig(b):  # (start epoch s, triggerExecution s, addBatch s)
        p = progress[b["batch_id"]]
        return (_epoch_s(p.timestamp), p.durationMs["triggerExecution"] / 1e3,
                p.durationMs.get("addBatch", 0) / 1e3)

    e2e, layers, report = {}, {}, []
    if ran and ran[0]["ok"] and timed:
        c0 = trig(ran[0])
        tw = [trig(b) for b in timed]
        lat = [t[1] for t in tw]
        # the timed cycle runs from the first timed trigger's start to the
        # start of the trigger after the last, so it includes the gaps
        # between triggers
        nxt = progress.get(timed[-1]["batch_id"] + 1)
        end = (_epoch_s(nxt.timestamp) if nxt is not None
               else tw[-1][0] + tw[-1][1])
        span = end - tw[0][0]
        setup_s = session_s + calib_s + (c0[0] + c0[1] - t_start)
        e2e = {
            "throughput_per_s": len(timed) / span,
            "latency_s": float(np.median(lat)),
            "setup_s": setup_s,
        }
        weather["timed_steal_frac"] = round(host.units_steal(timed), 4)
        report.append(
            f"stream_{SIZE}: {len(timed)} timed batches "
            f"{[round(t[1], 3) for t in tw]} s, steal "
            f"{[round(host.units_steal([b]), 4) for b in timed]}, "
            f"timed cycle {span:.3f} s; cold batch "
            f"{c0[1]:.3f} s, session {session_s:.3f} s, calib {calib_s:.3f} s, "
            f"skipped triggers {sum(1 for b in batches if not b['ran'])}")
        if traced:
            layers, table = _layers(spark, rec, inst, timed, tw, session_s,
                                    calib_s, landing)
            report.append(table)

    t0 = time.perf_counter()
    problems += check_outputs(out_dir, sum(1 for b in ran if b["ok"]))
    report.append(f"output check {time.perf_counter() - t0:.3f} s")
    return {
        "attempted": len(ran), "failed": failed, "problems": problems,
        "e2e": e2e, "layers": layers, "report": report, "weather": weather,
    }


def _read(out_dir: str, table: str, cols: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(out_dir, table), format="parquet",
                      partitioning="hive").to_table(columns=cols)


def check_outputs(out_dir: str, n_images: int) -> list[str]:
    """The pixel store holds one image per completed batch, every one of
    those images appears in every output table, and csim values are
    present and lie in [-1, 1]. Reads the parquet files directly."""
    import pyarrow.compute as pc

    try:
        expected = set(pc.unique(_read(out_dir, "pixels", ["image_id"])
                                 .column("image_id")).to_pylist())
    except Exception as e:  # noqa: BLE001 — a missing store is a failure
        return [f"pixels: unreadable ({type(e).__name__}: {e})"]
    problems = []
    if len(expected) != n_images:
        problems.append(f"pixels: {len(expected)} images for {n_images} "
                        "completed batches")
    for table in OUTPUT_TABLES:
        cols = ["image_id"] + (["csim_first", "csim_prev"] if table == "csim" else [])
        try:
            t = _read(out_dir, table, cols)
        except Exception as e:  # noqa: BLE001 — a missing table is a failure
            problems.append(f"{table}: unreadable ({type(e).__name__}: {e})")
            continue
        got = set(t.column("image_id").to_pylist())
        if missing := expected - got:
            problems.append(f"{table}: missing {sorted(missing)}")
        if table == "csim":
            v = np.concatenate([t.column(c).to_numpy(zero_copy_only=False)
                                for c in cols[1:]]).astype(float)
            if not len(v) or np.isnan(v).any() or v.min() < -1.0 or v.max() > 1.0:
                problems.append(f"csim out of [-1, 1] or null: {v.tolist()}")
    return problems


def _layers(spark, rec, inst, timed, tw, session_s, calib_s,
            landing) -> tuple[dict, str]:
    """Per-layer metrics, mean per timed batch, plus direct kernel probes."""
    stages, jobs = tr.read_status_store(spark)
    n = len(timed)
    bwin = [(b["t0"] * 1e3, b["t1"] * 1e3) for b in timed]
    twin = [(s * 1e3, (s + d) * 1e3) for s, d, _ in tw]
    stats = tr.layer_stats(stages, bwin)
    trig_stats = tr.layer_stats(stages, twin)
    m: dict[str, float] = {"session.start_s": session_s, "calib.build_s": calib_s}

    def get(layer, field):
        return stats.get(layer, {}).get(field, 0.0) / n

    for label in BARRIERS:
        for f in LAYER_FIELDS:
            m[f"barrier.{label}.{f}"] = get(f"barrier.{label}", f)
    for label in GRADIENT:
        for f in LAYER_FIELDS:
            m[f"gradient.{label}.{f}"] = get(f"gradient.{label}", f)
    m["h_maxima.run_core_s"] = get("tables.h_maxima", "run_core_s")
    for f in ("wall_s", "run_core_s", "shuffle_write_bytes"):
        m[f"csim.{f}"] = get("csim", f)
    for name in SINKS:
        walls = [s.wall for s in rec.named(f"tables.{name}")
                 if tr.in_windows(s.t0 * 1e3, bwin)]
        m[f"tables.{name}.wall_s"] = sum(walls) / n
        sizes = [nb for t, tn, nb in inst.table_bytes
                 if tn == name and tr.in_windows(t * 1e3, bwin)]
        m[f"tables.{name}.bytes"] = float(np.mean(sizes)) if sizes else 0.0
    m["streaming.trigger_overhead_s"] = float(np.mean([d - a for _, d, a in tw]))
    m["streaming.jobs_per_batch"] = sum(
        1 for j in jobs if j["submit_ms"] and tr.in_windows(j["submit_ms"], twin)) / n
    m["streaming.stages_per_batch"] = sum(a["stages"] for a in trig_stats.values()) / n
    m["streaming.tasks_per_batch"] = sum(a["tasks"] for a in trig_stats.values()) / n
    # the pixel-store stage scans the landed file, decodes it and writes
    # the pixel rows: one stage per image
    m["sources.tiff.decode_s"] = get("tables.pixels", "run_core_s")
    m["sources.tiff.tasks_per_image"] = get("tables.pixels", "tasks")

    calls = [s for s in rec.named("image_pipeline.plan_call")
             if tr.in_windows(s.t0 * 1e3, bwin)]
    plan_jobs = [(j["submit_ms"], j["complete_ms"]) for j in jobs
                 if j["group"] == tr.GROUP_PREFIX + "image_pipeline.other"
                 and j["submit_ms"] and j["complete_ms"]]
    driver = []
    for s in calls:
        inside = [(max(a, s.t0 * 1e3), min(b, s.t1 * 1e3)) for a, b in plan_jobs
                  if b >= s.t0 * 1e3 and a <= s.t1 * 1e3]
        driver.append(s.wall - tr.union_s(inside) / 1e3)
    m["image_pipeline.plan_call_s"] = (
        float(np.mean([s.wall for s in calls])) if calls else 0.0)
    m["image_pipeline.driver_plan_s"] = float(np.mean(driver)) if driver else 0.0

    total = sum(a["run_core_s"] for a in stats.values())
    una = stats.get("unattributed", {}).get("run_core_s", 0.0)
    m["executor.run_core_s"] = total / n
    m["unattributed.run_core_s"] = una / n
    m["unattributed.frac"] = una / total if total else 0.0
    for kind in ("barrier", "gradient", "tables", "csim", "streaming"):
        m[f"{kind}.failed_tasks"] = sum(
            a["failed_tasks"] for k, a in stats.items()
            if kind == "streaming" or k.split(".")[0] == kind) / n
    m.update(kernel_probes(landing))
    table = tr.format_table(f"stream_{SIZE} layer table, timed batches", stats, n)
    return m, table


def kernel_probes(landing: str) -> dict[str, float]:
    """Direct single-thread call of the public h-maxima kernel on one landed
    frame, with the plan's h (5 % of the 99.9th percentile); median of 3."""
    from xrddatapipeline_spark.operators import kernels
    from xrddatapipeline_spark.sources.tiff import decode_image

    with open(os.path.join(landing, f"{gen_tiffs.DATASET}-00001.tif"), "rb") as f:
        img = decode_image(f.read())
    hval = float(int(0.05 * float(np.percentile(img, 99.9))))
    raster = img.astype(np.float32)
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        kernels.h_maxima(raster, hval)
        ts.append(time.perf_counter() - t0)
    return {"kernels.h_maxima_s": float(np.median(ts))}
