"""Timing core shared by bench.py and the tools/ scripts.

Every timed run executes a query's FULL physical plan through the noop data
source: no sink cost and no driver collect, the honest way to time a
distributed plan. Optimization and execution belong to Catalyst; this
module only decides what is run, how often, and which sample is reported.
"""

from __future__ import annotations

import gc
import math
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azeroth_data_platform_spark import harness

# Warms the JVM and the parquet footers once, so timings measure the plans.
WARM_QUERY = "a8_distinct_items"


def query(spark: SparkSession, sf_dir: str, name: str) -> Callable[[], DataFrame]:
    """Builder for a registered query; the build itself runs inside the timed
    window (constructors may run eager materialize jobs)."""
    return lambda: harness.ALL_QUERIES[name](spark, sf_dir)


def run_once(build: Callable[[], DataFrame]) -> float:
    """Wall seconds to build one DataFrame and run it into the noop sink."""
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def run_gc(build: Callable[[], DataFrame]) -> float:
    """run_once after a gc.collect outside the timed window: py4j garbage of
    earlier runs (r12 measured pinned checkpoint blocks creeping a sequential
    run 3.8 -> 10 s) must not be charged to this run."""
    gc.collect()
    return run_once(build)


def warm(spark: SparkSession, sf_dir: str) -> None:
    run_once(query(spark, sf_dir, WARM_QUERY))


def median3(run: Callable[[], float]) -> tuple[float, list[float]]:
    """4 CONSECUTIVE runs, each after a gc.collect; the first (plan compile +
    cache warm) is discarded from the median. Returns (median of the last
    3, all 4 samples) — bench keeps sample 0 as the cold scale-probe base.

    Consecutive, not shuffled: an r10 experiment ran the 4 samples as
    shuffled whole-list passes and every query read a uniform ~1.3-1.5x
    slower, because the other queries evict a query's pages and shuffle
    files between its samples."""
    times = []
    for _ in range(4):
        gc.collect()
        times.append(run())
    return sorted(times[1:])[1], times


def canary_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FROZEN since round 3: a constant scan + aggregate whose work never
    # changes, so every run has a same-host drift denominator
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"),
        F.sum("l_quantity").alias("q"),
        F.count(F.lit(1)).alias("n"),
    )


def canary(
    spark: SparkSession, sf_dir: str, run: Callable[..., float] = run_once
) -> float:
    """Host-noise canary: median3 of the frozen scan (its own plan compiles
    on run 1 — measured ~2.5x inflation — so that run is discarded too)."""
    return median3(lambda: run(lambda: canary_frame(spark, sf_dir)))[0]


def growth(
    names: list[str],
    base: Callable[[str], float | None],
    scaled: Callable[[str], float],
    budget: float = math.inf,
) -> tuple[dict[str, dict], bool]:
    """Base-vs-scaled growth loop in list order. Stops launching queries once
    `budget` seconds have passed, so a probe can never endanger the caller's
    timeout; returns ({name: {base_sec, scaled_sec, growth}}, truncated)."""
    t0 = time.perf_counter()
    out = {}
    for name in names:
        if time.perf_counter() - t0 > budget:
            return out, True
        b = base(name)
        s = scaled(name)
        out[name] = {
            "base_sec": b,
            "scaled_sec": s,
            "growth": round(s / b, 2) if b else None,
        }
    return out, False
