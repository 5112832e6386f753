"""Per-group exact median + MAD statistics and sigma-clip outlier flagging.

Reference parity: the C kernel ``fmask.mask`` (fmask.c:79-293) computes, per
2theta ring, the **exact** median and MAD (scaled by 1.4826) of pixel
intensities and masks pixels outside ``median +/- esdMul * 1.4826 * MAD``;
rings with fewer than 10 pixels are skipped (fmask.c:237). SURVEY §2.6 A2,
§2.5 J7, §2.6 A18/J6.

Spark-first formulation — the reference's own v1->v2 rewrite, translated:
fmask v2 bins pixels ONCE then quick-selects per ring (fmask.c:199-230)
instead of rescanning per ring. Here that is ONE hash aggregation
(``collect_list`` per group — the "bin once") followed by pure array
expressions on the tiny per-group side (``array_sort`` + ``element_at``
— the "per-ring select"): median, MAD, and the outlier count all come
from the same sorted arrays with a single scan and a single shuffle,
where the naive two-pass-median formulation scans and shuffles the pixel
table three times.

Median interpolation matches numpy / DuckDB / Spark ``median`` exactly:
mean of the two middle order statistics for even counts.

Scale note (100 TB): groups here are bounded — ~10^3-10^4 pixels per ring
per image (the grouping key includes image_id in the image pipeline), so
a group's sorted array is ~100 KB and the per-group work is in-memory
JVM. For UNBOUNDED groups this formulation would not hold; that case
should fall back to a two-pass ``F.median`` plan. Skew: ring populations
vary ~10x, AQE's skew handling plus the small absolute sizes keep it flat.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xrddatapipeline_spark.functions.arrays import array_median as _array_median

MAD_SCALE = 1.4826  # Gaussian consistency constant, fmask.c:268


def group_sorted_values(
    df: DataFrame, keys: Sequence[str], value: str, min_count: int = 1
) -> DataFrame:
    """One-shuffle 'bin once' step: per-key sorted value array + count."""
    g = (
        df.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(value)).alias("_vals"))
        .withColumn("n_px", F.size("_vals"))
    )
    if min_count > 1:
        g = g.where(F.col("n_px") >= min_count)
    return g


def group_median_mad(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    min_count: int = 1,
    esd_mul: float | None = None,
) -> DataFrame:
    """Per-key exact median, MAD, count — and, when ``esd_mul`` is given,
    the outlier count at ``|v - med| > esd_mul * 1.4826 * mad`` — from one
    scan + one shuffle.

    Returns ``keys + (n_px, med, mad[, n_outliers])``.
    """
    keys = list(keys)
    g = group_sorted_values(df, keys, value, min_count)
    g = g.withColumn("med", _array_median(F.col("_vals"), F.col("n_px")))
    g = g.withColumn(
        "_absdev",
        F.array_sort(
            F.transform(F.col("_vals"), lambda x: F.abs(x - F.col("med")))
        ),
    )
    g = g.withColumn("mad", _array_median(F.col("_absdev"), F.col("n_px")))
    out_cols = [*keys, "n_px", "med", "mad"]
    if esd_mul is not None:
        thresh = F.col("mad") * F.lit(esd_mul * MAD_SCALE)
        g = g.withColumn(
            "n_outliers",
            F.size(F.filter(F.col("_absdev"), lambda d: d > thresh)),
        )
        out_cols.append("n_outliers")
    return g.select(*out_cols)


def flag_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    esd_mul: float = 3.0,
    min_count: int = 10,
) -> DataFrame:
    """Join ring stats back and flag ``|v - med| > esd_mul * 1.4826 * mad``.

    Mirrors fmask.c:259-285 (apply median/MAD back to each ring pixel).
    Adds columns ``med, mad, n_px, is_outlier``; rows in skipped groups
    (fewer than min_count) keep ``is_outlier = false`` with null stats.
    The stats side is ~one row per ring — always a broadcast join.

    The stats come from the (key, value)-histogram route
    (`group_median_mad_hist`), lockstep-equal to `group_median_mad`
    (tests/test_ring_stats_hist.py). Its shuffle carries ~35-65x fewer
    rows for quantized detector counts (continuous doubles degenerate to
    about one row per pixel, still exact); measured at 8 x 2880^2 / 2500 rings / local[32] under the
    serialized-sort shuffle writer, alternating A/B: histogram median
    11.8 s vs array 39.2 s per batch pass, histogram faster on every
    pairwise rep.
    """
    keys = list(keys)
    stats = group_median_mad_hist(df, keys, value, min_count=min_count)
    out = df.join(F.broadcast(stats), keys, "left")
    thresh = F.col("mad") * F.lit(esd_mul * MAD_SCALE)
    return out.withColumn(
        "is_outlier",
        F.when(
            F.col("mad").isNotNull()
            & (F.abs(F.col(value) - F.col("med")) > thresh),
            F.lit(True),
        ).otherwise(F.lit(False)),
    )


def _weighted_middle(arr: "Column", k1: "Column", k2: "Column") -> "Column":
    """Mean of the 0-based k1-th and k2-th order statistics of the
    count-weighted sorted struct<v,c> array (one fold, no expansion)."""
    acc0 = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    fin = F.aggregate(
        arr,
        acc0,
        lambda a, s: F.struct(
            (a["cum"] + s["c"]).alias("cum"),
            F.coalesce(a["v1"], F.when(a["cum"] + s["c"] > k1, s["v"])).alias("v1"),
            F.coalesce(a["v2"], F.when(a["cum"] + s["c"] > k2, s["v"])).alias("v2"),
        ),
    )
    return (fin["v1"] + fin["v2"]) / 2.0


def group_median_mad_hist(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    min_count: int = 1,
    esd_mul: float | None = None,
) -> DataFrame:
    """`group_median_mad` for INTEGER-valued measurements via a value
    histogram: pre-aggregate on (key, value) so the shuffle carries one
    map-side-combined row per DISTINCT value per key — for detector counts
    (bounded dynamic range) that is 10-100x fewer rows than one-per-pixel
    `collect_list`. Median / MAD / outlier count are then count-weighted
    order-statistic folds over the tiny sorted histogram — same exact
    interpolation as the array route (lockstep-tested equal).

    Semantically identical to `group_median_mad`; prefer it when `value`
    is integral. For continuous doubles the histogram degenerates to
    one row per pixel and the array route is cheaper.
    """
    keys = list(keys)
    hist = df.groupBy(*keys, value).agg(F.count("*").cast("long").alias("_c"))
    g = (
        hist.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(value).cast("double").alias("v"),
                        F.col("_c").alias("c"),
                    )
                )
            ).alias("_h")
        )
        .withColumn(
            "n_px",
            F.aggregate("_h", F.lit(0).cast("long"), lambda a, s: a + s["c"])
            .cast("int"),
        )
    )
    if min_count > 1:
        g = g.where(F.col("n_px") >= min_count)
    k1 = ((F.col("n_px") - 1) / 2).cast("long")
    k2 = (F.col("n_px") / 2).cast("long")
    g = g.withColumn("med", _weighted_middle(F.col("_h"), k1, k2))
    g = g.withColumn(
        "_hdev",
        F.array_sort(
            F.transform(
                F.col("_h"),
                lambda s: F.struct(
                    F.abs(s["v"] - F.col("med")).alias("v"), s["c"].alias("c")
                ),
            )
        ),
    )
    g = g.withColumn("mad", _weighted_middle(F.col("_hdev"), k1, k2))
    out_cols = [*keys, "n_px", "med", "mad"]
    if esd_mul is not None:
        thresh = F.col("mad") * F.lit(esd_mul * MAD_SCALE)
        g = g.withColumn(
            "n_outliers",
            F.aggregate(
                F.col("_hdev"),
                F.lit(0).cast("long"),
                lambda a, s: a + F.when(s["v"] > thresh, s["c"]).otherwise(
                    F.lit(0).cast("long")
                ),
            ).cast("int"),
        )
        out_cols.append("n_outliers")
    return g.select(*out_cols)
