"""Query workload: the 22 headline registry queries over seeded tables.

One client, closed loop, the queries in a seed-shuffled order. Set-up is
session start plus one warm-up query. An untimed pass then runs every
query once, four at a time, and keeps each result for the oracle check.
The timed region runs whole sequential passes over the 22 queries, each
execution materialized with the noop sink, until the passes span
``seconds``. After the timed region every kept result is compared with
the query's DuckDB oracle SQL on the same parquet files, with
``tests/oracle_harness.py``.
"""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pandas as pd

import gen_tables
import host
import trace as tr

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests"))
from oracle_harness import compare_frames, run_oracle  # noqa: E402

SF = 0.01
WARMUP = "tpch_q1_pricing"
WARM_THREADS = 4
#: relative tolerance per query for floating-point columns; every other
#: query must match its oracle exactly (abs 1e-9). tpch_q5ish's revenue is
#: an open-ended double sum whose last bits follow the summation order.
FLOAT_RTOL = {"tpch_q5ish_regional_volume": 1e-9}
#: bench.py's HEADLINE list, copied so that the workload stays fixed when
#: bench.py changes
HEADLINE = [
    "tpch_q1_pricing", "tpch_q5ish_regional_volume",
    "a1_integrate_binned_mean", "a2_ring_median_mad", "a9_shape_classifier",
    "a11_central_band_percentile", "w1_lag_first_pairing",
    "w5_circular_gap_scan", "dedup_exact_hash", "dedup_minhash_pairs",
    "dedup_simhash", "dedup_embedding_cosine", "ann_bruteforce_topk",
    "ann_lsh_bucketed", "text_fingerprint_winnow", "mm_decode_features",
    "tpch_q14_promo_share", "events_trailing_hour_stats",
    "events_rollup_grouping", "text_tfidf_top_terms", "docs_length_deciles",
    "emb_kmeans_update",
]


def run(seed: int, seconds: float, traced: bool, work: str,
        spark_holder: list) -> dict:
    from xrddatapipeline_spark.plans.driver_queries import REGISTRY
    from xrddatapipeline_spark.session import get_spark

    data = gen_tables.generate(os.path.join(work, "tables"), SF, seed)
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)

    conf = {"spark.sql.codegen.hugeMethodLimit": "3000"}
    if traced:
        conf.update(tr.TRACE_CONF)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-queries", extra_conf=conf)
    spark_holder.append(spark)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    REGISTRY[WARMUP].spark(spark, data).write.format("noop").mode(
        "overwrite").save()
    setup_s = time.perf_counter() - t0

    # untimed: every query once, four at a time, results to the driver.
    # This warms each query's code paths and yields the results that the
    # oracle check compares after the timed region.
    t0 = time.perf_counter()
    results: dict[str, pd.DataFrame | None] = {}
    failures: list[str] = []

    def collect(name: str):
        try:
            return REGISTRY[name].spark(spark, data).toPandas()
        except Exception as e:  # noqa: BLE001 — reported by the check
            failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None

    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        for name, pdf in zip(HEADLINE, pool.map(collect, HEADLINE)):
            results[name] = pdf
    warm_s = time.perf_counter() - t0

    sc = spark.sparkContext
    passes: list[dict] = []
    failed = 0
    ticks = host.cpu_ticks()
    t_begin = time.time()
    while not host.measured_enough(passes, seconds):
        p = {"t0": time.perf_counter(), "ticks0": host.cpu_ticks(),
             "lat": [], "ok": 0}
        for name in order:
            q0 = time.perf_counter()
            try:
                with (tr.job_group(sc, f"query.{name}") if traced
                      else nullcontext()):
                    REGISTRY[name].spark(spark, data).write.format(
                        "noop").mode("overwrite").save()
                p["ok"] += 1
            except Exception as e:  # noqa: BLE001 — count, keep going
                failed += 1
                failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            p["lat"].append(time.perf_counter() - q0)
        p["t1"], p["ticks1"] = time.perf_counter(), host.cpu_ticks()
        passes.append(p)
    t_end = time.time()
    weather = host.weather(spark, ticks)
    wall = passes[-1]["t1"] - passes[0]["t0"]
    lat = [x for p in passes for x in p["lat"]]

    t_check = time.perf_counter()
    problems = list(failures)
    inexact = []
    for name in HEADLINE:
        if results[name] is None:
            continue
        want = run_oracle(REGISTRY[name].oracle, data)
        if errs := compare_frames(results[name], want,
                                  FLOAT_RTOL.get(name, 0.0)):
            problems.append(f"{name}: {'; '.join(errs)}")
        elif name in FLOAT_RTOL and compare_frames(results[name], want):
            inexact.append(name)
    attempted = sum(len(p["lat"]) for p in passes)
    check_s = time.perf_counter() - t_check
    report = [
        f"queries_sf{SF}: {len(passes)} pass(es) "
        f"{[round(p['t1'] - p['t0'], 3) for p in passes]} s, steal "
        f"{[round(host.units_steal([p]), 4) for p in passes]}; setup "
        f"{setup_s:.3f} s, untimed "
        f"warm/check pass {warm_s:.3f} s; oracle check {check_s:.3f} s, "
        f"inexact within its allowance: {inexact}",
        f"latency geomean {np.exp(np.mean(np.log(lat))):.3f} s, p50 "
        f"{np.percentile(lat, 50):.3f} s, p90 {np.percentile(lat, 90):.3f} s "
        f"over {len(lat)} executions",
        "per query (s), first pass: " + ", ".join(
            f"{n}={passes[0]['lat'][i]:.3f}" for i, n in enumerate(order)),
    ]
    e2e = {
        "throughput_per_s": sum(p["ok"] for p in passes) / wall,
        "latency_s": float(np.exp(np.mean(np.log(lat)))),
        "setup_s": setup_s,
    }
    layers = {}
    if traced:
        stages, _ = tr.read_status_store(spark)
        stats = tr.layer_stats(stages, [(t_begin * 1e3, t_end * 1e3)])
        layers = {"session.start_s": session_s}
        for name in HEADLINE:
            layers[f"query.{name}.run_core_s"] = stats.get(
                f"query.{name}", {}).get("run_core_s", 0.0) / len(passes)
        qs = [a for k, a in stats.items() if k.startswith("query.")]
        layers["query.shuffle_write_bytes"] = sum(
            a["shuffle_write_bytes"] for a in qs) / len(passes)
        layers["query.spill_bytes"] = sum(a["spill_bytes"] for a in qs) / len(passes)
        layers["query.failed_tasks"] = sum(a["failed_tasks"] for a in qs) / len(passes)
        total = sum(a["run_core_s"] for a in stats.values())
        una = stats.get("unattributed", {}).get("run_core_s", 0.0)
        layers["executor.run_core_s"] = total / len(passes)
        layers["unattributed.run_core_s"] = una / len(passes)
        layers["unattributed.frac"] = una / total if total else 0.0
        report.append(tr.format_table(
            f"queries_sf{SF} layer table, timed passes", stats, len(passes)))
    return {"attempted": attempted, "failed": failed,
            "problems": problems, "e2e": e2e, "layers": layers,
            "report": report, "weather": weather}
