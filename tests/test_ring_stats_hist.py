"""Histogram ring-stat route == array route, exactly (med/mad/counts)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from xrddatapipeline_spark.operators.ring_stats import (
    flag_outliers,
    group_median_mad,
    group_median_mad_hist,
)


def _random_groups(seed: int, n_groups: int = 40) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(n_groups):
        n = int(rng.integers(1, 60))  # odd/even/min_count edge cases
        # narrow range forces heavy value collisions (the histogram case)
        vals = rng.integers(0, 15, size=n)
        # sprinkle extreme outliers
        vals[rng.random(n) < 0.1] += 1000
        rows.extend((g, int(v)) for v in vals)
    return pd.DataFrame(rows, columns=["grp", "val"])


def test_hist_matches_array_route_exactly(spark):
    pdf = _random_groups(7)
    df = spark.createDataFrame(pdf)
    a = (
        group_median_mad(df, ["grp"], "val", min_count=3, esd_mul=3.0)
        .toPandas().sort_values("grp").reset_index(drop=True)
    )
    h = (
        group_median_mad_hist(df, ["grp"], "val", min_count=3, esd_mul=3.0)
        .toPandas().sort_values("grp").reset_index(drop=True)
    )
    assert list(a.columns) == list(h.columns)
    assert (a["grp"] == h["grp"]).all()
    assert (a["n_px"] == h["n_px"]).all()
    assert np.array_equal(a["med"].to_numpy(), h["med"].to_numpy())
    assert np.array_equal(a["mad"].to_numpy(), h["mad"].to_numpy())
    assert (a["n_outliers"] == h["n_outliers"]).all()
    # cross-check medians against numpy on the raw data
    for g, sub in pdf.groupby("grp"):
        if len(sub) < 3:
            continue
        row = h[h.grp == g].iloc[0]
        assert row["med"] == np.median(sub["val"])
        assert row["mad"] == np.median(np.abs(sub["val"] - np.median(sub["val"])))


def test_flag_outliers_histogram_flags_same_rows(spark):
    """flag_outliers (histogram route) flags exactly the rows the array
    route's stats flag."""
    from pyspark.sql import functions as F

    from xrddatapipeline_spark.operators.ring_stats import MAD_SCALE

    pdf = _random_groups(11)
    df = spark.createDataFrame(pdf)
    stats = group_median_mad(df, ["grp"], "val", min_count=5)
    base = (
        df.join(F.broadcast(stats), ["grp"], "left")
        .withColumn(
            "is_outlier",
            F.coalesce(
                F.abs(F.col("val") - F.col("med"))
                > F.col("mad") * F.lit(3.0 * MAD_SCALE),
                F.lit(False),
            ),
        )
        .select("grp", "val", "is_outlier")
        .toPandas().sort_values(["grp", "val"]).reset_index(drop=True)
    )
    hist = (
        flag_outliers(df, ["grp"], "val", esd_mul=3.0, min_count=5)
        .select("grp", "val", "is_outlier")
        .toPandas().sort_values(["grp", "val"]).reset_index(drop=True)
    )
    assert (base["is_outlier"] == hist["is_outlier"]).all()
    assert base["is_outlier"].sum() > 0


def _shuffle_totals(df) -> tuple[int, int]:
    """(records, bytes) written across every ShuffleExchange in the
    executed plan (deduped by plan-node id; AQE query stages unwrapped).

    Materializes via collect() — a write action runs its OWN
    QueryExecution, leaving this Dataset's plan (and its metrics)
    untouched. Callers pass frames with small scalar outputs."""
    df.collect()
    seen: set[int] = set()
    recs = 0
    byts = 0

    def walk(node):
        nonlocal recs, byts
        name = node.getClass().getSimpleName()
        if "ShuffleExchange" in name and node.id() not in seen:
            seen.add(node.id())
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    recs += kv._2().value()
                elif kv._1() == "shuffleBytesWritten":
                    byts += kv._2().value()
        if name.endswith("QueryStageExec"):
            walk(node.plan())
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return recs, byts


def test_histogram_route_shrinks_ring_stat_shuffle_2880(spark):
    """Pin the round-2 claim (SCALE.md): at the flagship 2880^2 / 2500-ring
    config the histogram route's map-side (ring, value) combine shuffles a
    small multiple of distinct-values-per-ring instead of one record per
    pixel. Measured from the executed plan's ShuffleExchange write metrics
    on the bench's own synthetic detector distribution (integer counts,
    ring-structured), raster-ordered input partitions like the real feed."""
    from pyspark.sql import functions as F

    size, rings = 2880, 2500
    r = F.sqrt(
        (F.col("y") - size / 2.0) ** 2 + (F.col("x") - size / 2.0) ** 2
    )
    intensity = (
        F.lit(50)
        + F.lit(150.0) * F.pow(F.sin(r / 3.0), 2)
        + F.pmod(F.xxhash64("y", "x"), F.lit(13))
        + F.when(F.pmod(F.xxhash64("x", "y", F.lit(7)), F.lit(911)) == 0, 4000)
        .otherwise(0)
    ).cast("int")
    max_r = size / 2.0
    px = (
        spark.range(size * size)
        .select(
            ((F.col("id") / size).cast("long") % size).cast("int").alias("y"),
            (F.col("id") % size).cast("int").alias("x"),
        )
        .withColumn("intensity", intensity)
        .withColumn(
            "ring",
            F.least(F.lit(rings - 1), F.floor(r * rings / max_r)).cast("int"),
        )
        .select("ring", "intensity")
        .persist()
    )
    n_px = px.count()
    assert n_px == size * size

    arr = group_median_mad(px, ["ring"], "intensity", min_count=3, esd_mul=3.0)
    hist = group_median_mad_hist(
        px, ["ring"], "intensity", min_count=3, esd_mul=3.0
    )
    a_recs, a_bytes = _shuffle_totals(arr)
    h_recs, h_bytes = _shuffle_totals(hist)
    px.unpersist()

    # the array route ships every pixel's value through the exchange
    # (packed inside partial collect_list buffers — few RECORDS, all the
    # BYTES); the histogram route ships one map-side-combined record per
    # (ring, value) per input partition. Measured here (8.29M px, 2500
    # rings, bench detector distribution): ~35x fewer records than
    # pixels and ~7x fewer shuffle bytes — the row-count claim in
    # image_pipeline.py holds, the byte win is real but smaller (lz4
    # compresses the array route's integer runs well). Conservative
    # host-independent bounds:
    assert h_bytes * 4 < a_bytes, (
        f"histogram shuffle not smaller: hist={h_bytes}B ({h_recs} recs) "
        f"vs array={a_bytes}B ({a_recs} recs)"
    )
    assert h_recs * 20 < n_px, (
        f"histogram route shuffled {h_recs} records for {n_px} pixels"
    )
    print(
        f"\nSHUFFLE2880 array: {a_recs} recs / {a_bytes} B; "
        f"hist: {h_recs} recs / {h_bytes} B; "
        f"bytes ratio {a_bytes / max(h_bytes, 1):.1f}x, "
        f"record ratio {n_px / max(h_recs, 1):.1f}x vs pixels"
    )
