"""Perf repro: full per-image plan at a parameterized detector size.

Usage: python scripts/perf_image_plan.py SIZE OUT_CH OM_CH DIST [N_IMAGES] [MODE]
MODE is a string of flags: grad (gradient stage), cf (closed-form calib),
warm (time a second call), csim (also time csim).
e.g.   python scripts/perf_image_plan.py 1024 1000 500 341
       python scripts/perf_image_plan.py 2880 2500 1000 959

Times each materialized output of run_image_plan, then dumps the top
Spark stages by executorRunTime from the UI REST API so the slow config's
time can be attributed to concrete stages (shuffle? python? scan?).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))



from xrddatapipeline_spark.calib.cache import build_calib_pixels
from xrddatapipeline_spark.calib.geometry import ImageControls
from xrddatapipeline_spark.plans.image_pipeline import run_image_plan
from tests.fixtures_images import make_image, images_long_df


def controls_for(size: int, out_ch: int, om_ch: int, dist: float) -> ImageControls:
    return ImageControls(
        wavelength=0.24087,
        distance=dist,
        center_x=size * 150.0 / 2000.0,  # center in mm (150 um px)
        center_y=size * 150.0 / 2000.0,
        tilt=0.0,
        rotation=0.0,
        pixel_size_x=150.0,
        pixel_size_y=150.0,
        size_x=size,
        size_y=size,
        iotth=(1.0, 12.7),
        out_channels=out_ch,
        num_chans_om=om_ch,
        pola_val=0.99,
        esd_mul=3.0,
        dataset="perf",
    )


def rest_stages(spark) -> list[dict]:
    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4040/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=120) as r:
        return json.load(r)


def main() -> None:
    size, out_ch, om_ch = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
    dist = float(sys.argv[4])
    n_images = int(sys.argv[5]) if len(sys.argv) > 5 else 1
    mode = sys.argv[6] if len(sys.argv) > 6 else ""
    gradient = "grad" in mode
    closed_form = "cf" in mode  # calib=None: closed-form calib columns

    import os

    from xrddatapipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", os.environ.get("PERF_HEAP", "16g"))
    spark = get_spark(
        app_name="perf-image-plan",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},  # REST stage metrics below
    )
    spark.sparkContext.setLogLevel("ERROR")

    c = controls_for(size, out_ch, om_ch, dist)
    t0 = time.time()
    if closed_form:
        calib, t_calib = None, 0.0
    else:
        calib = build_calib_pixels(spark, c).persist()
        calib.count()
        t_calib = time.time() - t0

    # upload ONE generated image, replicate to n images executor-side
    # (deterministic per-seq intensity perturbation) — driver-side pandas
    # generation of N x 8.3M rows dominated wall-clock at n>1 otherwise
    base = images_long_df(spark, [("perf", 0, make_image(c, seq=0))])
    if n_images > 1:
        from pyspark.sql import functions as F
        seqs = spark.range(n_images).select(F.col("id").cast("int").alias("seq2"))
        pixels = (
            base.drop("seq", "image_id")
            .crossJoin(seqs)
            .select(
                "dataset",
                F.col("seq2").alias("seq"),
                F.format_string("perf-%05d", "seq2").alias("image_id"),
                "y",
                "x",
                (
                    F.col("intensity")
                    * (1.0 - 0.03 * F.col("seq2"))
                    + F.pmod(F.xxhash64("y", "x", "seq2"), F.lit(7))
                ).cast("int").alias("intensity"),
            )
        )
    else:
        pixels = base
    pixels = pixels.persist()
    pixels.count()

    if "warm" in mode:
        # steady-state measurement: one throwaway batch first (JIT of the
        # wide generated methods + python worker warmup), then time the
        # second — matches the bench keepup's two-batch methodology
        warm_res = run_image_plan(pixels, calib, c, gradient_stage=gradient,
                                  n_images=n_images)
        for out in (warm_res.integrals, warm_res.spot_stats,
                    warm_res.spottiness):
            out.count()
        if gradient:
            warm_res.gradient.on_arc_labels.count()
        warm_res.unpersist_all()

    stage_t: dict[str, float] = {}

    def mark(name, action):
        s = time.time()
        out = action()
        stage_t[name] = round(time.time() - s, 2)
        return out

    t0 = time.time()
    # the plan call materializes every barrier (px, outliers, lpx,
    # label_table, intspot and the gradient frames) before it returns
    res = mark("barriers", lambda: run_image_plan(
        pixels, calib, c, gradient_stage=gradient, n_images=n_images
    ))
    mark("integrals", lambda: res.integrals.count())
    mark("spot_stats", lambda: res.spot_stats.count())
    mark("spottiness", lambda: res.spottiness.count())
    if "csim" in mode:
        from xrddatapipeline_spark.plans.image_pipeline import (
            cosine_similarity_series,
        )
        mark("csim", lambda: cosine_similarity_series(res.pixels).count())
    if gradient:
        mark("gradient", lambda: res.gradient.on_arc_labels.count())
    total = time.time() - t0

    print(json.dumps({
        "size": size, "out_ch": out_ch, "om_ch": om_ch, "dist": dist,
        "n_images": n_images, "gradient": gradient,
        "calib_build": round(t_calib, 2),
        "total_plan": round(total, 2), "stages": stage_t,
    }))

    import datetime as _dt

    def _ts(s, key):
        v = s.get(key)
        if not v:
            return None
        return _dt.datetime.strptime(
            v.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
        ).timestamp()

    stages = rest_stages(spark)
    by_start = sorted(
        (s for s in stages if _ts(s, "firstTaskLaunchedTime")),
        key=lambda s: _ts(s, "firstTaskLaunchedTime"),
    )
    print("timeline (all stages with tasks, by start):")
    prev_end = None
    for s in by_start:
        sub, done = _ts(s, "firstTaskLaunchedTime"), _ts(s, "completionTime")
        if sub - t0 < -60:
            continue
        gap = f" GAP={sub - prev_end:5.1f}s" if prev_end is not None and sub - prev_end > 2 else ""
        prev_end = max(prev_end or done, done)
        print(
            f"  t={sub - t0:>6.1f}..{done - t0:>6.1f} id={s['stageId']:>3} "
            f"tasks={s['numCompleteTasks']:>3}{gap} | {s['name'].splitlines()[0][:50]}"
        )
    stages.sort(key=lambda s: s.get("executorRunTime", 0), reverse=True)
    print("top stages by executorRunTime (ms); t=wall window rel. plan start:")
    for s in stages[:14]:
        sub, done = _ts(s, "firstTaskLaunchedTime"), _ts(s, "completionTime")
        win = (
            f"t={sub - t0:>6.1f}..{done - t0:>6.1f}"
            if sub is not None and done is not None
            else "t=?"
        )
        print(
            f"  id={s['stageId']:>3} run={s['executorRunTime']:>7} "
            f"cpu={s.get('executorCpuTime', 0)//1_000_000:>7} "
            f"tasks={s['numCompleteTasks']:>3} "
            f"shufW={s.get('shuffleWriteBytes', 0):>10} "
            f"shufR={s.get('shuffleReadBytes', 0):>10} {win} "
            f"| {s['name'].splitlines()[0][:60]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
