#!/usr/bin/env python
"""Round-14 session-4 decomposition probe: where do the ~200-280 run
core-s of the lpx / intspot dense passes actually go at 8 x 2880^2?

Times each component with the noop sink + REST stage attribution,
alternating variants so host weather cancels pairwise:

  scan4        px.select(image_id,y,x,intensity)            (pure cache scan)
  scan10       the 10-column intspot projection             (cache scan, wide)
  probe3       scan4 + broadcast inner join on (image_id,y,x)   (the lpx probe)
  probe_pk     same join keyed on ONE packed long (img_idx<<26|y<<13|x)
  lpx_full     labeled_pixels_frame(controls=...) production path
  intspot      integrate_and_spottiness production path
  intspot_pk   same agg keyed on (image_id, tth_idx*1024+qbin) packed int

Usage: python scripts/probe_dense_pass_r14.py [reps=3]
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xrddatapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(
        app_name="xrdspark-probe-dense",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench as B
    from xrddatapipeline_spark.calib.geometry import ImageControls
    from xrddatapipeline_spark.plans.image_pipeline import (
        integrate_and_spottiness,
        join_calib,
        labeled_pixels_frame,
        outlier_pixels,
        with_base_mask,
    )

    size, batch = 2880, 8
    c = ImageControls(
        wavelength=0.24087, distance=size / 3.0,
        center_x=size * 150.0 / 2000.0, center_y=size * 150.0 / 2000.0,
        pixel_size_x=150.0, pixel_size_y=150.0,
        size_x=size, size_y=size, iotth=(1.0, 12.7),
        out_channels=2500, num_chans_om=500, pola_val=0.99,
        esd_mul=3.0, dataset="bench",
    )
    pixels = B._synthetic_pixels(spark, c, n_images=batch).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pixels.count()
    drop = ["tth", "azim_band", "azim_mask", "dataset", "seq", "q", "azim"]
    masked = with_base_mask(
        join_calib(pixels, None, broadcast=True, controls=c), controls=c
    )
    # the round-14 keep-up's dense barrier (columnar persist + eager
    # count); run_image_plan now checkpoints px as serialized rows
    px = masked.drop(*[col for col in drop if col in masked.columns]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    print("px rows:", px.count(), flush=True)

    # realistic sparse sets off the REAL outlier stage (closing skipped —
    # membership shape is what matters for probe cost)
    outliers = outlier_pixels(px, esd_mul=c.esd_mul).localCheckpoint(eager=True)
    n_out = outliers.count()
    print("outlier rows:", n_out, flush=True)
    flags = (
        outliers.withColumn("is_om", F.lit(True))
        .withColumn("is_spot_px", F.pmod(F.col("x"), F.lit(2)) == 0)
        .withColumn("is_arc_px", F.pmod(F.col("x"), F.lit(2)) == 1)
        .localCheckpoint(eager=True)
    )
    flags.count()

    # tiny image_id -> idx map for the packed-key variants
    ids = [r[0] for r in px.select("image_id").distinct().collect()]
    idx_map = F.create_map(
        *[x for i, s in enumerate(sorted(ids)) for x in (F.lit(s), F.lit(i))]
    )

    def pk(df):
        return df.withColumn(
            "_pk",
            F.shiftleft(idx_map[F.col("image_id")].cast("long"), 26)
            + F.col("y").cast("long") * 8192 + F.col("x"),
        )

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    def v_scan4():
        _noop(px.select("image_id", "y", "x", "intensity"))

    def v_scan10():
        _noop(px.select(
            "image_id", "y", "x", "intensity", "pol", "dist_sq",
            "tth_idx", "qbin", "base_mask"))

    def v_probe3():
        _noop(
            px.select("image_id", "y", "x", "intensity").join(
                F.broadcast(outliers), ["image_id", "y", "x"]
            )
        )

    def v_probe_pk():
        big = pk(px.select("image_id", "y", "x", "intensity"))
        small = pk(outliers).select("_pk")
        _noop(big.join(F.broadcast(small), "_pk"))

    def v_lpx_full():
        _noop(labeled_pixels_frame(
            px, outliers, (size, size), sparse_hint=F.broadcast,
            controls=c, closing_radius=1,
        ))

    def v_intspot():
        _noop(integrate_and_spottiness(
            px, flags, c, sparse_hint=F.broadcast))

    def v_intspot_pk():
        value = F.col("intensity") / F.col("pol") * F.pow(F.col("dist_sq"), 1.5)
        kinds = {
            "base": F.col("base_mask"),
            "om": F.col("base_mask") | F.col("is_om"),
            "spotsmasked": F.col("base_mask") | F.col("is_spot_px"),
            "arcsmasked": F.col("base_mask") | F.col("is_arc_px"),
        }
        flagged = (
            px.join(F.broadcast(flags), ["image_id", "y", "x"], "left")
            .fillna({"is_om": False, "is_spot_px": False, "is_arc_px": False})
            .withColumn("_v", value)
            .withColumn("_bk", F.col("tth_idx") * 1024 + F.col("qbin"))
        )
        aggs = []
        for kind, mask in kinds.items():
            aggs.append(F.sum(F.when(~mask, F.col("_v"))).alias(f"sum_{kind}"))
            aggs.append(F.count(F.when(~mask, F.lit(1))).alias(f"n_{kind}"))
        aggs.append(F.count(F.lit(1)).alias("n_total"))
        aggs.append(F.sum(F.col("is_om").cast("int")).alias("n_masked"))
        _noop(flagged.groupBy("image_id", "_bk").agg(*aggs))

    variants = {
        "scan4": v_scan4,
        "scan10": v_scan10,
        "probe3": v_probe3,
        "probe_pk": v_probe_pk,
        "lpx_full": v_lpx_full,
        "intspot": v_intspot,
        "intspot_pk": v_intspot_pk,
    }

    def _rest(path):
        import urllib.request
        with urllib.request.urlopen(
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}/{path}", timeout=60,
        ) as r:
            return json.load(r)

    def _done():
        return {(s["stageId"], s["attemptId"]): s
                for s in _rest("stages?status=complete")}

    for name, fn in variants.items():  # JIT/codegen warmup for every shape
        fn()
    recs = []
    for rep in range(reps):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"probe:{name}")
            before = _done()
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            new = [s for k, s in _done().items() if k not in before]
            recs.append({
                "variant": name, "rep": rep, "wall": round(wall, 2),
                "run": round(sum(s.get("executorRunTime", 0)
                                 for s in new) / 1000, 1),
                "cpu": round(sum(s.get("executorCpuTime", 0)
                                 for s in new) / 1e9, 1),
                "stages": len(new),
            })
            print(json.dumps(recs[-1]), flush=True)
    print("\n== medians ==")
    for name in variants:
        rs = [r for r in recs if r["variant"] == name]
        print(f"{name:12s} run={statistics.median([r['run'] for r in rs]):7.1f}"
              f" cpu={statistics.median([r['cpu'] for r in rs]):7.1f}"
              f" wall={statistics.median([r['wall'] for r in rs]):6.2f}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
